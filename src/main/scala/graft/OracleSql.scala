package graft

import graft.functions.SharedHash
import graft.ops.{Corpus, Dedup, TextAnalysis, VectorOps}

/** DuckDB oracle SQL for every SQL-expressible query in SparkEntry.queries.
  *
  * Determinism contract with the Spark side (see Relational/Dedup/…):
  * identical aliases, identical fully-tie-broken ORDER BY, doubles rounded
  * identically, integer widths cast to match Spark output types, and all
  * sketch constants generated from the same SharedHash seeds. Vector math
  * is emitted as left-associated term chains matching Spark's left folds.
  */
object OracleSql {

  private def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString(", ")

  // shared fragments ------------------------------------------------------
  private val tokensCte =
    "SELECT doc_id, text, lang, string_split(text, ' ') AS tokens FROM documents"

  private val shinglesCase =
    """CASE WHEN len(tokens) >= 3 THEN
      | list_transform(range(1, CAST(len(tokens) AS BIGINT) - 1), i ->
      |   tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])
      |ELSE [text] END""".stripMargin.replaceAll("\n", " ")

  private def minhashCols: String = Dedup.minhashSeeds.zipWithIndex.map {
    case ((a, b), k) =>
      s"list_min(list_transform(sh, x -> ${SharedHash.duckK("x", a, b)})) AS mh_$k"
  }.mkString(", ")

  /** Stupid-backoff LM CTE chain ending in `w(doc_id, w_u, bo)` — per-
    * trigram floored micro-nat weights plus the backoff marker, trained on
    * the 90% hash split. Shared verbatim by text_lm_backoff (per-doc
    * readout) and text_ppl_buckets (tercile split over the same scores). */
  private def lmBackoffCtes: String = lmBackoffCtesWith(
    s"(${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 10) <> 9")

  /** As [[lmBackoffCtes]] with an arbitrary train-split predicate over
    * `tok` rows — the front-door oracle fits on residues 0–7 only. */
  private def lmBackoffCtesWith(trainPred: String): String = {
    val a1 = graft.ops.TermScoring.BackoffAlpha
    val a2 = a1 * a1
    def triCols(src: String) =
      s"""unnest(list_transform(range(1, CAST(len(toks) AS BIGINT) - 1), i -> toks[i])) AS a,
         |  unnest(list_transform(range(1, CAST(len(toks) AS BIGINT) - 1), i -> toks[i + 1])) AS b,
         |  unnest(list_transform(range(1, CAST(len(toks) AS BIGINT) - 1), i -> toks[i + 2])) AS c
         |  FROM $src WHERE len(toks) >= 3""".stripMargin
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tr AS (SELECT doc_id, toks FROM tok
       |  WHERE $trainPred),
       |tt AS (SELECT ${triCols("tr")}),
       |tm AS (SELECT a, b, c, count(*) AS c3 FROM tt GROUP BY 1, 2, 3),
       |cx AS (SELECT a, b, CAST(sum(c3) AS BIGINT) AS c12 FROM tm GROUP BY 1, 2),
       |bt AS (SELECT
       |  unnest(list_transform(range(1, CAST(len(toks) AS BIGINT)), i -> toks[i])) AS a2,
       |  unnest(list_transform(range(1, CAST(len(toks) AS BIGINT)), i -> toks[i + 1])) AS b2
       |  FROM tr WHERE len(toks) >= 2),
       |bm AS (SELECT a2, b2, count(*) AS c23 FROM bt GROUP BY 1, 2),
       |b1 AS (SELECT a2 AS a1, CAST(sum(c23) AS BIGINT) AS c2 FROM bm GROUP BY 1),
       |um AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(toks) AS w FROM tr) GROUP BY 1),
       |nt AS (SELECT count(*) AS n_tok FROM (SELECT unnest(toks) AS w FROM tr)),
       |st AS (SELECT doc_id, ${triCols("tok")}),
       |j AS (SELECT st.doc_id, tm.c3, cx.c12, bm.c23, b1.c2, um.c1, nt.n_tok
       |  FROM st LEFT JOIN tm USING (a, b, c) LEFT JOIN cx USING (a, b)
       |  LEFT JOIN bm ON bm.a2 = st.b AND bm.b2 = st.c
       |  LEFT JOIN b1 ON b1.a1 = st.b
       |  LEFT JOIN um ON um.w = st.c
       |  CROSS JOIN nt),
       |w AS (SELECT doc_id,
       |  CAST(floor(ln(CASE WHEN c3 IS NOT NULL THEN c3 / c12
       |    WHEN c23 IS NOT NULL THEN CAST($a1 AS DOUBLE) * (c23 / c2)
       |    WHEN c1 IS NOT NULL THEN CAST($a2 AS DOUBLE) * (c1 / n_tok)
       |    ELSE CAST($a2 AS DOUBLE) * (1.0 / n_tok) END) * 1000000) AS BIGINT) AS w_u,
       |  CASE WHEN c3 IS NULL THEN 1 ELSE 0 END AS bo FROM j)""".stripMargin
  }

  /** Shared CTE chain ending in `pairs(doc_a, doc_b, jaccard)` — the
    * MinHash+LSH candidate/verify pipeline. */
  private def minhashPairsCte: String = minhashPairsCteFrom(tokensCte)

  /** As minhashPairsCte, tokenizing an arbitrary source query instead of
    * the raw documents table. */
  private def minhashPairsCteFrom(tokSql: String): String = {
    val bandSelects = (0 until Dedup.NumBands).map { j =>
      val key = (0 until Dedup.RowsPerBand)
        .map(r => s"CAST(mh_${j * Dedup.RowsPerBand + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $j AS band, $key AS key FROM mh"
    }.mkString(" UNION ALL ")
    s"""tok AS ($tokSql),
       |sh AS (SELECT doc_id, $shinglesCase AS sh FROM tok),
       |mh AS (SELECT doc_id, $minhashCols FROM sh),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |pairs AS (SELECT doc_a, doc_b,
       |  round(len(list_distinct(list_intersect(sa.sh, sb.sh))) /
       |        len(list_distinct(sa.sh || sb.sh)), 4) AS jaccard
       |  FROM cand JOIN sh sa ON sa.doc_id = doc_a
       |            JOIN sh sb ON sb.doc_id = doc_b)""".stripMargin
  }

  private val simhashTerms: String = (0 until Dedup.SimHashBits).map { b =>
    s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN ((h >> $b) & 1) = 1 " +
      s"THEN 1 ELSE -1 END)) >= 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)"
  }.mkString("(", " + ", ")")

  /** 64-bit signature terms, accumulated in HUGEINT: DuckDB's BIGINT `<<`
    * overflows at bit 63 (checked arithmetic), so the sum is built
    * unsigned-128 and mapped to two's-complement BIGINT by the caller —
    * the same recipe as text_rolling_fp. Bits 0–47 read `hs`, 48–63 `hs2`,
    * mirroring Dedup.simhash64Expr term-for-term. */
  private val simhash64Terms: String = (0 until Dedup.SimHashBits64).map { b =>
    val (src, bit) = if (b < 48) ("hs", b) else ("hs2", b - 48)
    s"(CASE WHEN list_sum(list_transform($src, h -> CASE WHEN ((h >> $bit) & 1) = 1 " +
      s"THEN 1 ELSE -1 END)) >= 0 THEN (CAST(1 AS HUGEINT) << $b) ELSE CAST(0 AS HUGEINT) END)"
  }.mkString("(", " + ", ")")

  /** Left-associated dot-product chain over 1-based DOUBLE[] columns. */
  private def dotChain(a: String, b: String): String =
    (1 to VectorOps.Dim).map(i => s"$a[$i]*$b[$i]").mkString("(", " + ", ")")

  /** Truncated-prefix dot chain (ann_truncate's 16-dim coarse pass). */
  private def dotChainHead(a: String, b: String, dims: Int): String =
    (1 to dims).map(i => s"$a[$i]*$b[$i]").mkString("(", " + ", ")")

  /** The hyperplane-LSH bucket as literal SQL: each of the 16 sign bits is
    * a left-associated dot chain against the seeded plane's coefficients
    * (printed via Double.toString, which round-trips exactly). Bit-identical
    * doubles on both sides make the `> 0` sign test hash-safe. */
  private def lshBucketTerms: String =
    graft.ops.Similarity.planes.zipWithIndex.map { case (p, i) =>
      val dot = (1 to VectorOps.Dim)
        .map(d => s"e[$d]*(${p(d - 1)})").mkString("(", " + ", ")")
      s"(CASE WHEN $dot > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Band `j`'s 0..255 key for the WIDE geometry — sign bits of that
    * band's 8 planes, weighted 1..128, exactly the engine's `wb$j` column
    * (keys are unpacked per band, so no 64-bit shift semantics to align —
    * see [[graft.ops.Similarity.cosineDupLsh]]). */
  private def wideBandKeyTerm(j: Int): String = {
    import graft.ops.Similarity.{widePlanes, WideBitsPerBand}
    (0 until WideBitsPerBand).map { b =>
      val p = widePlanes(j * WideBitsPerBand + b)
      val dot = (1 to VectorOps.Dim)
        .map(d => s"e[$d]*(${p(d - 1)})").mkString("(", " + ", ")")
      s"(CASE WHEN $dot > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  private val embCte =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |n AS (SELECT vec_id, e, ${dotChain("e", "e")} AS nrm FROM e)"""
      .stripMargin.replaceAll("\n", " ")

  /** SQ8 ANN oracle (ann_sq8 / ann_filtered): the ONLY quantized-ANN
    * oracle with no stashed-literal step — min/max are deterministic
    * aggregates (they SELECT stored values), so the quantizer fit itself
    * re-derives in SQL. Codes and reconstruction mirror
    * [[graft.ops.Similarity.sq8Encoded]] term-for-term:
    * `sc[d] = (mx[d]−mn[d])/255`, `code = round((v−mn)/sc)`,
    * `r = code·sc + mn` (round args ≥ 0, so HALF_UP ≡ half-away).
    * AS MATERIALIZED on the reconstruction CTE is load-bearing at replica
    * scale for the same reason as the band-signature CTEs (r12 lesson):
    * DuckDB inlines CTEs per reference, and `rz` is referenced by both
    * sides of the ADC self-join. */
  private def sq8MemberSql(labelFiltered: Boolean): String = {
    import graft.ops.Similarity.{AnnK, AnnQueries, Sq8Rerank}
    val recon = (1 to VectorOps.Dim).map { d =>
      s"(CASE WHEN sc[$d] = 0 THEN 0 ELSE round((e[$d] - mn[$d]) / sc[$d]) END" +
        s" * sc[$d] + mn[$d])"
    }.mkString("list_value(", ", ", ")")
    val labelCol = if (labelFiltered) ", label" else ""
    val labelGate = if (labelFiltered) " AND q.label = c.label" else ""
    s"""WITH el AS (SELECT vec_id$labelCol,
       |  CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |n AS MATERIALIZED (SELECT vec_id$labelCol, e,
       |  ${dotChain("e", "e")} AS nrm FROM el),
       |dims AS MATERIALIZED (SELECT CAST(t.dim AS INT) AS dim,
       |  min(e[t.dim + 1]) AS mnd, max(e[t.dim + 1]) AS mxd
       |  FROM n, range(${VectorOps.Dim}) t(dim) GROUP BY 1),
       |mm AS (SELECT list(mnd ORDER BY dim) AS mn,
       |  list((mxd - mnd) / 255.0 ORDER BY dim) AS sc FROM dims),
       |rz AS MATERIALIZED (SELECT vec_id$labelCol, e, nrm,
       |  $recon AS r FROM n, mm),
       |rr AS (SELECT vec_id$labelCol, e, nrm, r,
       |  ${dotChain("r", "r")} AS rn FROM rz),
       |adc AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |  round(${dotChain("q.e", "c.r")} / (sqrt(q.nrm) * sqrt(c.rn)), 6)
       |    AS adc_sim
       |  FROM rr q JOIN rr c
       |    ON q.vec_id < $AnnQueries AND q.vec_id <> c.vec_id$labelGate),
       |sl AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
       |  ORDER BY adc_sim DESC, c_id ASC) AS crnk FROM adc),
       |f AS (SELECT s.q_id, s.c_id,
       |  round(${dotChain("q.e", "c.e")} / (sqrt(q.nrm) * sqrt(c.nrm)), 6)
       |    AS sim
       |  FROM sl s JOIN n q ON q.vec_id = s.q_id
       |  JOIN n c ON c.vec_id = s.c_id WHERE s.crnk <= $Sq8Rerank),
       |g AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (
       |  PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS INT) AS rnk
       |  FROM f)
       |SELECT q_id, rnk, c_id, sim FROM g WHERE rnk <= $AnnK
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** The three banded near-dup pair oracles over the full corpus. The
    * collide predicates and verify chain are built from the same
    * fragments the composed recall oracle restates over its shared
    * signature CTE — one source for each formula, two packagings. */
  private def embBandPairsSql: String = {
    import graft.ops.Similarity.{NumBands, BitsPerBand}
    val mask = (1 << BitsPerBand) - 1
    val collide = (0 until NumBands).map { j =>
      s"((a.bucket >> ${j * BitsPerBand}) & $mask) = " +
        s"((c.bucket >> ${j * BitsPerBand}) & $mask)"
    }.mkString(" OR ")
    s"""WITH $embCte,
       |b AS MATERIALIZED (SELECT vec_id, e, nrm,
       |  CAST($lshBucketTerms AS INT) AS bucket FROM n),
       |p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       |  round(${dotChain("a.e", "c.e")} / (sqrt(a.nrm) * sqrt(c.nrm)), 6) AS sim
       |  FROM b a JOIN b c ON a.vec_id < c.vec_id AND ($collide))
       |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.35
       |ORDER BY id_a, id_b""".stripMargin
  }

  private def wideKeyCols: String = {
    import graft.ops.Similarity.WideNumBands
    (0 until WideNumBands)
      .map(j => s"CAST(${wideBandKeyTerm(j)} AS INT) AS wb$j")
      .mkString(",\n|  ")
  }

  private def embWidePairsSql: String = {
    import graft.ops.Similarity.WideNumBands
    val collide = (0 until WideNumBands)
      .map(j => s"a.wb$j = c.wb$j").mkString(" OR ")
    s"""WITH $embCte,
       |b AS MATERIALIZED (SELECT vec_id, e, nrm,
       |  $wideKeyCols FROM n),
       |p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       |  round(${dotChain("a.e", "c.e")} / (sqrt(a.nrm) * sqrt(c.nrm)), 6) AS sim
       |  FROM b a JOIN b c ON a.vec_id < c.vec_id AND ($collide))
       |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.35
       |ORDER BY id_a, id_b""".stripMargin
  }

  private def embWideMpPairsSql: String = {
    import graft.ops.Similarity.WideNumBands
    val collide = (0 until WideNumBands)
      .map(j => s"bit_count(CAST(xor(a.wb$j, c.wb$j) AS BIGINT)) <= 1")
      .mkString(" OR ")
    s"""WITH $embCte,
       |b AS MATERIALIZED (SELECT vec_id, e, nrm,
       |  $wideKeyCols FROM n),
       |p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       |  round(${dotChain("a.e", "c.e")} / (sqrt(a.nrm) * sqrt(c.nrm)), 6) AS sim
       |  FROM b a JOIN b c ON a.vec_id < c.vec_id AND ($collide))
       |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.35
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Shared by q_upsert and q_upsert_mor: the MOR read view must be
    * indistinguishable from the copy-on-write rewrite. */
  private val upsertSql: String =
    """WITH snap AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 9),
      |ch AS (SELECT
      |  CASE WHEN doc_id % 30 = 9 THEN doc_id - 1
      |       WHEN doc_id % 30 = 19 THEN doc_id - 2
      |       ELSE doc_id END AS doc_id,
      |  CASE WHEN doc_id % 30 = 9 THEN 'delete'
      |       WHEN doc_id % 30 = 19 THEN 'update'
      |       ELSE 'insert' END AS op,
      |  'rev2 ' || text AS text
      |  FROM documents WHERE doc_id % 10 = 9),
      |m AS (SELECT COALESCE(s.doc_id, c.doc_id) AS doc_id,
      |  s.text AS s_text, c.op, c.text AS c_text
      |  FROM snap s FULL OUTER JOIN ch c ON s.doc_id = c.doc_id)
      |SELECT doc_id,
      |  CASE WHEN s_text IS NULL THEN 'inserted'
      |       WHEN op IS NOT NULL THEN 'updated'
      |       ELSE 'kept' END AS status,
      |  CAST(length(COALESCE(c_text, s_text)) AS INT) AS n_chars_new
      |FROM m
      |WHERE COALESCE(op, '') <> 'delete'
      |  AND (s_text IS NOT NULL OR op = 'insert')
      |ORDER BY doc_id""".stripMargin

  // -----------------------------------------------------------------------
  private val base: Map[String, String] = Map(

    "q_agg_lineitem" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_discount), 6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // the literal SQL text Spark parses — same string, both engines
    "q_sql_text" -> graft.ops.Relational.PricingSummarySql,

    "q_collect_types" ->
      """SELECT user_id,
        | array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types,
        | count(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_conditional_agg" ->
      """SELECT l_returnflag, count(*) AS n_all,
        | count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
        | round(sum(l_extendedprice) FILTER (WHERE l_discount >= 0.05), 2)
        |   AS discounted_revenue,
        | round(avg(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4)
        |   AS avg_qty_finished
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_argmax" ->
      """SELECT event_type,
        | arg_max(event_id, value * 1000000000 + event_id) AS top_event,
        | round(max(value), 2) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_filter_prefix" ->
      """SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE source LIKE 'src1%' ORDER BY doc_id""".stripMargin,

    "q_split_counts" ->
      """SELECT CASE WHEN event_id % 10 < 8 THEN 'I' ELSE 'V' END AS set_tag,
        | count(*) AS n
        |FROM events GROUP BY 1 ORDER BY set_tag""".stripMargin,

    // the plain unsalted join — identical output proves the salt is
    // semantics-transparent; integral cents make the sum order-independent
    "q_salted_join" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
        | CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |   AS total_cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,

    // identical explicit full frame; µs ordering (DuckDB stores µs)
    "q_window_nav" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |  first_value(value) OVER f AS first_v,
        |  last_value(value) OVER f AS last_v,
        |  nth_value(value, 2) OVER f AS second_v,
        |  COALESCE(lag(value, 1) OVER o, -1.0) AS prev_v,
        |  COALESCE(lead(value, 1) OVER o, -1.0) AS next_v
        |FROM events WHERE user_id < 30
        |WINDOW o AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
        |  f AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q_array_funcs" ->
      """SELECT doc_id, CAST(len(tokens) AS INT) AS n,
        | array_to_string(tokens[1:3], '-') AS first3,
        | array_to_string(list_sort(list_distinct(tokens))[1:5], ',')
        |   AS vocab5,
        | CAST(COALESCE(list_position(tokens, 'spark'), 0) AS BIGINT)
        |   AS spark_pos,
        | list_contains(tokens, 'spark') AS has_spark
        |FROM (SELECT doc_id, string_split(text, ' ') AS tokens
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    // Spark ASC = NULLS FIRST, DuckDB = NULLS LAST — made explicit here
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(grouping(l_returnflag) AS INT) * 2 +
        |   CAST(grouping(l_linestatus) AS INT) AS gid,
        | count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())
        |ORDER BY gid, l_returnflag NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin,

    // integral moving sum (floor(value*100)) so the RANGE-frame sum is
    // addition-order-independent; µs resolution because DuckDB stores µs
    "q_range_frame" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT)
        |    AS win_cents,
        |  CAST(count(*) OVER w AS INT) AS win_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 5000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q_unpivot" ->
      """SELECT measure, count(*) AS n,
        | round(CAST(sum(CAST(floor(val * 1e6) AS BIGINT)) AS BIGINT) / 1e6, 2) AS total,
        | round(CAST(sum(CAST(floor(val * 1e6) AS BIGINT)) AS BIGINT) / (count(*) * 1e6), 6) AS mean
        |FROM (
        |  SELECT 'quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT 'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 'discount', l_discount FROM lineitem) u
        |GROUP BY measure ORDER BY measure""".stripMargin,

    "q_subquery" ->
      """SELECT c_custkey, c_mktsegment,
        | (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
        | (SELECT round(max(o_totalprice), 2) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin,

    "q_hash_split" -> {
      val bucket = s"(${SharedHash.duck48("CAST(event_id AS VARCHAR)")} % 10)"
      s"""SELECT CASE WHEN $bucket < 8 THEN 'train'
         |     WHEN $bucket = 8 THEN 'val' ELSE 'test' END AS split,
         | count(*) AS n, round(avg(value), 4) AS avg_value
         |FROM events GROUP BY split ORDER BY split""".stripMargin
    },

    "q_rmse_events" ->
      """WITH train AS (
        |  SELECT user_id, event_type, avg(value) AS prediction
        |  FROM events WHERE event_id % 10 < 8 GROUP BY user_id, event_type),
        |valid AS (
        |  SELECT user_id, event_type, value FROM events WHERE event_id % 10 >= 8)
        |SELECT round(sqrt(avg(pow(value - prediction, 2))), 4) AS rmse
        |FROM valid JOIN train USING (user_id, event_type)""".stripMargin,

    "q_join_revenue" ->
      """SELECT c_mktsegment,
        | CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        | count(*) AS n_lines
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_semi_join" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_anti_join" ->
      """SELECT c_nationkey, count(*) AS n_no_urgent FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_window_topk" ->
      """SELECT c_mktsegment, rk, o_orderkey, price FROM (
        |  SELECT c_mktsegment,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk,
        |    o_orderkey, round(o_totalprice, 2) AS price
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rk <= 2 ORDER BY c_mktsegment, rk""".stripMargin,

    // window replay of the native topk_by aggregate: same total order
    // (value DESC, event_id ASC); the top sum re-folds in integer cents so
    // aggregation order can't drift the hash
    "q_topk_agg" ->
      """WITH r AS (SELECT event_type, event_id, value,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events)
        |SELECT event_type,
        |  string_agg(CAST(event_id AS VARCHAR), ','
        |    ORDER BY value DESC, event_id ASC) AS top_ids,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM r WHERE rn <= 5
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 10""".stripMargin,

    "q_rollup_region" ->
      """SELECT coalesce(r_name, 'ALL') AS region,
        | coalesce(n_name, 'ALL') AS nation, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name) ORDER BY region, nation""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        | coalesce(o_orderstatus, 'ALL') AS status,
        | count(*) AS n,
        | CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin,

    "q_json" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
        | round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS k_avg
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_pivot" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cols = types.map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
        .mkString(", ")
      s"SELECT user_id, $cols FROM events GROUP BY user_id ORDER BY user_id"
    },

    "q_percentile" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // identical bucket arithmetic on both engines: boundary values land
    // in the same bin bit-for-bit (floor of the same IEEE expression);
    // the degenerate all-equal range (Spark 0/0=NaN, DuckDB 0/0=NULL) is
    // CASEd to bucket 0 on both
    "q_histogram" ->
      """WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
        |e AS (SELECT
        |  CASE WHEN b.mx = b.mn THEN 0
        |    ELSE CAST(least(19, floor((ev.value - b.mn) / (b.mx - b.mn) * 20)) AS INT)
        |  END AS bucket, b.mn AS mn, b.mx AS mx
        |  FROM events ev CROSS JOIN b)
        |SELECT bucket, count(*) AS n,
        |  round(max(mn) + bucket * (max(mx) - max(mn)) / 20, 4) AS lo,
        |  round(max(mn) + (bucket + 1) * (max(mx) - max(mn)) / 20, 4) AS hi
        |FROM e GROUP BY bucket ORDER BY bucket""".stripMargin,

    // fences AND values carried as integer micro-units (round(x*1e6) as
    // BIGINT, the emb_dim_stats float-sum rule): the comparison and the
    // output hash are exact integer ops on both engines
    "q_iqr_outliers" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(round((quantile_cont(value, 0.25)
        |      - (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) * 1.5) * 1e6)
        |      AS BIGINT) AS lo_micro,
        |    CAST(round((quantile_cont(value, 0.75)
        |      + (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) * 1.5) * 1e6)
        |      AS BIGINT) AS hi_micro
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN CAST(round(e.value * 1e6) AS BIGINT) < b.lo_micro
        |    OR CAST(round(e.value * 1e6) AS BIGINT) > b.hi_micro
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  max(b.lo_micro) AS lo_micro, max(b.hi_micro) AS hi_micro
        |FROM events e JOIN b ON e.event_type = b.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q_stats_agg" ->
      """SELECT l_returnflag,
        | round(stddev_samp(l_quantity), 4) AS qty_stddev,
        | round(corr(l_extendedprice, l_quantity), 4) AS price_qty_corr
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_setops" ->
      """WITH buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
        |rich AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000)
        |SELECT custkey, 'rich_buyer' AS tag FROM
        |  (SELECT custkey FROM rich INTERSECT SELECT custkey FROM buyers)
        |UNION ALL
        |SELECT custkey, 'rich_no_orders' AS tag FROM
        |  (SELECT custkey FROM rich EXCEPT SELECT custkey FROM buyers)
        |ORDER BY tag, custkey""".stripMargin,

    "q_case_round" ->
      """SELECT l_orderkey, l_linenumber,
        | round(l_discount * 100, 1) AS disc_pct,
        | CASE WHEN l_discount >= 0.05 THEN 'HIGH' ELSE 'LOW' END AS disc_band
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_string_funcs" ->
      """SELECT doc_id, upper(substr(text, 1, 10)) AS head10,
        | CAST(length(text) AS INT) AS len,
        | concat_ws('|', lang, source) AS tag
        |FROM documents ORDER BY doc_id""".stripMargin,

    // full outer with USING-coalesced key; both null sides occur (ship
    // dates trail order dates)
    "q_full_outer" ->
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |l AS (SELECT CAST(l_shipdate AS DATE) AS day, count(*) AS n_shipped
        |  FROM lineitem GROUP BY 1)
        |SELECT day, n_orders, n_shipped
        |FROM o FULL OUTER JOIN l USING (day) ORDER BY day""".stripMargin,

    "q_date_agg" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y,
        | CAST(month(o_orderdate) AS INT) AS m,
        | count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY y, m ORDER BY y, m""".stripMargin,

    "q_report_format" ->
      ("SELECT event_id, printf('%d\t%s\t%s', user_id, event_type, " +
        "CAST(round(value, 1) AS VARCHAR)) AS line " +
        "FROM events WHERE event_id < 100 ORDER BY event_id"),

    "q_having" ->
      """SELECT event_type, round(avg(value), 4) AS avg_value, count(*) AS n
        |FROM events GROUP BY event_type HAVING count(*) > 5
        |ORDER BY event_type""".stripMargin,

    "q_join_filtered" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        | revenue FROM (
        |  SELECT o_orderkey, o_orderdate,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |    AND l_shipdate > TIMESTAMP '1998-01-01'
        |  GROUP BY o_orderkey, o_orderdate) t
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, epoch_ns(ts) AS ns,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ns
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |    sum(CASE WHEN prev_ns IS NULL OR ns - prev_ns > 1800000000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g),
        |per_session AS (
        |  SELECT user_id, session_id, count(*) AS n_events
        |  FROM s GROUP BY user_id, session_id)
        |SELECT user_id, count(*) AS n_sessions,
        | round(avg(n_events), 4) AS avg_events_per_session,
        | max(n_events) AS max_session_events
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the oracle is the PLAIN group-by: identical results prove the salted
    // two-phase shuffle layout is semantically transparent
    "q_salted_agg" ->
      """SELECT user_id, count(*) AS n,
        | round(CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) / 1e6, 2) AS total,
        | round(CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) / (count(*) * 1e6), 4) AS mean
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // independent cross-check: binned range join vs DuckDB's native
    // inequality join
    "q_range_join" ->
      """SELECT e.event_id, count(*) AS n_context,
        | round(sum(c.value), 2) AS context_value
        |FROM events e JOIN events c
        |  ON e.user_id = c.user_id
        | AND c.ts >= e.ts - INTERVAL 5 MINUTE AND c.ts <= e.ts
        | AND c.event_id <> e.event_id
        |WHERE e.event_type = 'error'
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin,

    // independent cross-check: our union+window composition vs DuckDB's
    // native ASOF JOIN operator
    "q_asof_join" ->
      """WITH r AS (
        |  SELECT user_id, ts, max_by(value, event_id) AS prior_value
        |  FROM events WHERE event_id % 10 < 8 GROUP BY user_id, ts),
        |l AS (
        |  SELECT event_id, user_id, ts, value
        |  FROM events WHERE event_id % 10 >= 8)
        |SELECT l.event_id, l.user_id, l.value,
        | r.prior_value AS asof_prior_value,
        | round(l.value - r.prior_value, 4) AS drift
        |FROM l ASOF JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    // the native-operator twin shares the composed query's oracle verbatim:
    // same output contract, independently implemented three ways
    "q_asof_native" ->
      """WITH r AS (
        |  SELECT user_id, ts, max_by(value, event_id) AS prior_value
        |  FROM events WHERE event_id % 10 < 8 GROUP BY user_id, ts),
        |l AS (
        |  SELECT event_id, user_id, ts, value
        |  FROM events WHERE event_id % 10 >= 8)
        |SELECT l.event_id, l.user_id, l.value,
        | r.prior_value AS asof_prior_value,
        | round(l.value - r.prior_value, 4) AS drift
        |FROM l ASOF JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    "q_time_window" ->
      """SELECT strftime(time_bucket(INTERVAL '10 minutes', ts),
        |  '%Y-%m-%d %H:%M:%S') AS w, event_type,
        | count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY w, event_type""".stripMargin,

    "q_quartiles" ->
      """SELECT c_mktsegment, quartile, count(*) AS n,
        | round(min(o_totalprice), 2) AS min_price,
        | round(max(o_totalprice), 2) AS max_price,
        | round(max(pr), 6) AS max_percent_rank,
        | round(max(cd), 6) AS max_cume_dist
        |FROM (
        |  SELECT c_mktsegment, o_totalprice,
        |    CAST(ntile(4) OVER w AS INT) AS quartile,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WINDOW w AS (PARTITION BY c_mktsegment
        |               ORDER BY o_totalprice ASC, o_orderkey ASC)) t
        |GROUP BY c_mktsegment, quartile
        |ORDER BY c_mktsegment, quartile""".stripMargin,

    "q_sliding_window" ->
      """WITH b AS (
        |  SELECT event_type, time_bucket(INTERVAL '5 minutes', ts) AS b0
        |  FROM events),
        |w AS (SELECT event_type, b0 AS ws FROM b
        |  UNION ALL
        |  SELECT event_type, b0 - INTERVAL '5 minutes' AS ws FROM b)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w, event_type,
        | count(*) AS n
        |FROM w GROUP BY ws, event_type ORDER BY w, event_type""".stripMargin,

    "q_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts, value, epoch_ns(ts) AS ns,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(CASE WHEN prev IS NULL OR ns - prev >= 1800000000000
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
        | strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end,
        | count(*) AS n, round(sum(value), 2) AS total
        |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    "q_window_running" ->
      """SELECT c_mktsegment, o_orderkey, price, rnk, running_total, next_order
        |FROM (
        |  SELECT c_mktsegment, o_orderkey,
        |    round(o_totalprice, 2) AS price,
        |    CAST(rank() OVER w AS INT) AS rnk,
        |    round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW), 2) AS running_total,
        |    lead(o_orderkey, 1) OVER w AS next_order
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WINDOW w AS (PARTITION BY c_mktsegment
        |               ORDER BY o_totalprice DESC, o_orderkey ASC)) t
        |WHERE rnk <= 5 ORDER BY c_mktsegment, rnk""".stripMargin,

    // --- text ------------------------------------------------------------
    // the BPE pre-token count replays the same RE2-safe pattern; both
    // engines are leftmost-first on the alternation, so segment counts
    // agree exactly
    "text_tokens" -> {
      val re = TextAnalysis.BpePreTokenRe.replace("'", "''")
      s"""SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         | n_chars,
         | CAST(len(regexp_extract_all(text, '$re')) AS INT) AS bpe_tokens,
         | CAST(floor(length(text) / 4) AS BIGINT) AS bpe_est,
         | round(length(replace(text, ' ', '')) /
         |   len(string_split(text, ' ')), 4) AS avg_token_len
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "text_quality" ->
      s"""SELECT doc_id,
         | round(len(list_filter(string_split(text, ' '),
         |   t -> t IN (${inList(TextAnalysis.Stopwords)}))) /
         |   len(string_split(text, ' ')), 4) AS stopword_ratio,
         | round(len(list_distinct(string_split(text, ' '))) /
         |   len(string_split(text, ' ')), 4) AS type_token_ratio,
         | CASE WHEN n_chars < 100 THEN 'short'
         |      WHEN n_chars > 1000 THEN 'long' ELSE 'ok' END AS length_band
         |FROM documents ORDER BY doc_id""".stripMargin,

    // Gopher rule battery: every predicate is the identical integer
    // comparison the engine evaluates (permille numerators, no float
    // ratios), so the boolean flags — and the admitted conjunction —
    // hash-match exactly. The '...' counter divides by 3 AFTER the
    // non-overlapping replace, which both engines perform left-to-right.
    "text_gopher_rules" -> {
      import TextAnalysis._
      s"""WITH tok AS ($tokensCte),
         |b AS (
         |  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n,
         |    length(replace(text, ' ', '')) AS sum_len,
         |    CASE WHEN len(tokens) >= 2 THEN
         |      list_transform(range(1, CAST(len(tokens) AS BIGINT)), i ->
         |        tokens[i] || ' ' || tokens[i+1])
         |    ELSE [text] END AS g2,
         |    (length(text) - length(replace(text, '#', ''))) +
         |      (length(text) - length(replace(text, '...', ''))) // 3
         |      AS symbol_hits,
         |    len(list_filter(tokens, t -> regexp_matches(t, '[a-z]')))
         |      AS alpha_words,
         |    len(list_intersect(list_distinct(tokens),
         |      [${inList(Stopwords)}])) AS stop_hits
         |  FROM tok),
         |f AS (
         |  SELECT doc_id, n AS n_words,
         |    (n >= $GopherMinWords AND n <= $GopherMaxWords)
         |      AS ok_word_count,
         |    (sum_len >= $GopherMinAvgLen * n AND
         |     sum_len <= $GopherMaxAvgLen * n) AS ok_mean_word_len,
         |    (symbol_hits * 1000 <= $GopherSymbolPermille * n)
         |      AS ok_symbol_ratio,
         |    (stop_hits >= $GopherMinStopHits) AS ok_stopwords,
         |    (alpha_words * 1000 >= $GopherAlphaPermille * n)
         |      AS ok_alpha_frac,
         |    ((len(g2) - len(list_distinct(g2))) * 1000 <=
         |      $GopherDup2Permille * len(g2)) AS ok_dup2gram
         |  FROM b)
         |SELECT doc_id, n_words, ok_word_count, ok_mean_word_len,
         |  ok_symbol_ratio, ok_stopwords, ok_alpha_frac, ok_dup2gram,
         |  (ok_word_count AND ok_mean_word_len AND ok_symbol_ratio AND
         |   ok_stopwords AND ok_alpha_frac AND ok_dup2gram) AS admitted
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "text_langid" -> {
      def hits(lang: String) =
        s"CAST(len(list_filter(tokens, t -> t IN (${inList(TextAnalysis.LangProfiles(lang))}))) AS INT)"
      s"""WITH t AS ($tokensCte),
         |h AS (SELECT doc_id, lang AS labeled_lang,
         |  ${hits("en")} AS en_hits, ${hits("es")} AS es_hits,
         |  ${hits("fr")} AS fr_hits FROM t)
         |SELECT doc_id, labeled_lang,
         | CASE WHEN es_hits > en_hits AND es_hits > fr_hits THEN 'es'
         |      WHEN fr_hits > en_hits THEN 'fr' ELSE 'en' END AS predicted_lang,
         | en_hits, es_hits, fr_hits
         |FROM h ORDER BY doc_id""".stripMargin
    },

    "text_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS fp,
         | ${SharedHash.duck48("text")} AS fp48,
         | (${SharedHash.duck48("text")} % 1024) AS shard
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_vocab" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    // n-gram LM counts: identical clipped-slice gram construction
    // (dedup_substring's convention), every occurrence counted, cutoff-pruned
    "text_ngrams" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT unnest(list_transform(
        |    range(1, greatest(len(toks) - 2, 1) + 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS gram FROM t)
        |SELECT gram, count(*) AS n FROM g GROUP BY gram
        |HAVING count(*) >= 5 ORDER BY n DESC, gram ASC""".stripMargin,

    // identical indexed-transform + non-null-filter construction
    "text_collapse_repeats" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens
        |  FROM documents),
        |k AS (SELECT doc_id, tokens,
        |  list_filter(list_transform(range(1, len(tokens) + 1),
        |    i -> CASE WHEN i = 1 OR tokens[i] != tokens[i - 1]
        |      THEN tokens[i] END),
        |    t -> t IS NOT NULL) AS kept
        |  FROM t)
        |SELECT doc_id, CAST(len(tokens) AS INT) AS n_before,
        |  CAST(len(kept) AS INT) AS n_after,
        |  array_to_string(kept, ' ') AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin,

    // The custom RollingHash64 expression folded in HUGEINT with explicit
    // mod-2^64 wraparound, then mapped to two's-complement BIGINT. Valid
    // because the corpus is pure ASCII (verified at every SF), so DuckDB's
    // per-char ord == the UTF-8 byte the Spark expression consumes; the
    // shard is h_unsigned % 1024 ≡ pmod(h_signed, 1024) since 1024 | 2^64.
    "text_rolling_fp" ->
      """SELECT doc_id,
        |  CASE WHEN h >= 9223372036854775808::HUGEINT
        |       THEN CAST(h - 18446744073709551616::HUGEINT AS BIGINT)
        |       ELSE CAST(h AS BIGINT) END AS fp64,
        |  CAST(h % 1024 AS BIGINT) AS shard
        |FROM (SELECT doc_id, list_reduce(
        |    list_prepend(1125899906842597::HUGEINT,
        |      list_transform(range(1, len(text)+1),
        |        i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS HUGEINT))),
        |    (acc, x) -> (31*acc + x) % 18446744073709551616::HUGEINT) AS h
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // SQL-text surface over the custom tier: same HUGEINT fold, shard
    // histogram — pmod(signed, 64) ≡ unsigned % 64 since 64 | 2^64
    "q_sql_custom" ->
      """WITH rh AS (SELECT doc_id, list_reduce(
        |    list_prepend(1125899906842597::HUGEINT,
        |      list_transform(range(1, len(text)+1),
        |        i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS HUGEINT))),
        |    (acc, x) -> (31*acc + x) % 18446744073709551616::HUGEINT) AS h
        |  FROM documents)
        |SELECT CAST(h % 64 AS BIGINT) AS shard,
        |  count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM rh GROUP BY shard ORDER BY shard""".stripMargin,

    // --- dedup -----------------------------------------------------------
    "dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY fp ORDER BY fp""".stripMargin,

    "dedup_exact_keep" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |  FROM documents) t
        |WHERE doc_id = keeper ORDER BY doc_id""".stripMargin,

    // policy keeper over CANONICAL groups: highest quality (n_chars desc)
    // wins, ties to the smaller doc_id — same fully-tie-broken window and
    // the same canonicalization chain as dedup_canonical
    "dedup_exact_policy" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (
        |      PARTITION BY md5(trim(regexp_replace(lower(text),
        |        '[^a-z0-9]+', ' ', 'g')))
        |      ORDER BY n_chars DESC, doc_id ASC) AS rnk
        |  FROM documents) t
        |WHERE rnk = 1 ORDER BY doc_id""".stripMargin,

    // canonicalization chain replayed verbatim ('g' = replace-all, matching
    // Spark's regexp_replace semantics); digests then hash-compare
    "dedup_canonical" ->
      """SELECT md5(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g'))) AS fp,
        |  min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY fp ORDER BY fp""".stripMargin,

    // same masking chain, same order (email -> phone -> IPv4 -> deny terms);
    // RE2 and java.util.regex agree on these character-class patterns.
    // n_term_hits counts on the PII-masked intermediate (= number of [TERM]
    // tags emitted); changed = red_text actually differs from the original
    // (so PII-only edits count too) — both mirror Redaction.redactDocuments.
    "q_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(pii_text,
        |    '(?i)\bspark\b', '[TERM]', 'g'),
        |    '(?i)\bcustomer\b', '[TERM]', 'g') AS red_text,
        |  CAST(len(regexp_split_to_array(pii_text, '(?i)\bspark\b')) - 1
        |     + len(regexp_split_to_array(pii_text, '(?i)\bcustomer\b')) - 1 AS INT)
        |    AS n_term_hits,
        |  (regexp_replace(regexp_replace(pii_text,
        |    '(?i)\bspark\b', '[TERM]', 'g'),
        |    '(?i)\bcustomer\b', '[TERM]', 'g') <> text) AS changed
        |FROM (
        |  SELECT doc_id, text,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '[PHONE]', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g')
        |      AS pii_text
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    // Gopher-style within-doc repetition: same 3-shingle expression as the
    // dedup family; occurrence fractions divide the same BIGINTs on both
    // engines so round(x, 4) is exact
    "text_repetition" ->
      s"""WITH tok AS ($tokensCte),
         |g AS (SELECT doc_id, $shinglesCase AS g3,
         |  CASE WHEN len(tokens) >= 2 THEN
         |    list_transform(range(1, CAST(len(tokens) AS BIGINT)), i ->
         |      tokens[i] || ' ' || tokens[i+1])
         |  ELSE [text] END AS g2
         |  FROM tok),
         |d3 AS (SELECT doc_id, CAST(len(g3) AS INT) AS n3,
         |  round((len(g3) - len(list_distinct(g3))) / len(g3), 4) AS dup3_frac
         |  FROM g),
         |t2 AS (SELECT doc_id, round(max(c) / sum(c), 4) AS top2_frac FROM (
         |  SELECT doc_id, gg AS gram, count(*) AS c FROM (
         |    SELECT doc_id, unnest(g2) AS gg FROM g) u
         |  GROUP BY doc_id, gg) cc GROUP BY doc_id)
         |SELECT d3.doc_id, n3, dup3_frac, top2_frac
         |FROM d3 JOIN t2 ON d3.doc_id = t2.doc_id
         |ORDER BY d3.doc_id""".stripMargin,

    "dedup_minhash" ->
      s"""WITH tok AS ($tokensCte),
         |sh AS (SELECT doc_id, $shinglesCase AS sh FROM tok)
         |SELECT doc_id, $minhashCols FROM sh ORDER BY doc_id""".stripMargin,

    "dedup_minhash_pairs" ->
      s"""WITH $minhashPairsCte
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |WHERE jaccard >= ${Dedup.JaccardThreshold}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // pair graph rolled up by unordered source pair — same banded
    // candidate/verify CTE as dedup_minhash_pairs
    "dedup_source_matrix" ->
      s"""WITH $minhashPairsCte,
         |good AS (SELECT doc_a, doc_b FROM pairs
         |  WHERE jaccard >= ${Dedup.JaccardThreshold}),
         |m AS (SELECT least(da.source, db.source) AS source_x,
         |  greatest(da.source, db.source) AS source_y
         |  FROM good JOIN documents da ON da.doc_id = good.doc_a
         |            JOIN documents db ON db.doc_id = good.doc_b)
         |SELECT source_x, source_y, count(*) AS n_pairs FROM m
         |GROUP BY source_x, source_y ORDER BY source_x, source_y""".stripMargin,

    // standing-vocab top-k is fully tie-broken (count desc, token asc) so
    // the boundary is deterministic; fractions divide the same integers
    "text_oov" -> {
      val isInc = s"(${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 10) = 9"
      s"""WITH t AS (SELECT doc_id, text, $isInc AS is_inc FROM documents),
         |v AS (SELECT token FROM (
         |    SELECT unnest(string_split(text, ' ')) AS token
         |    FROM t WHERE NOT is_inc) u
         |  GROUP BY token ORDER BY count(*) DESC, token ASC LIMIT 1000),
         |d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM t WHERE is_inc)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN token IN (SELECT token FROM v)
         |    THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
         |  round(CAST(sum(CASE WHEN token IN (SELECT token FROM v)
         |    THEN 0 ELSE 1 END) AS BIGINT) / count(*), 4) AS oov_frac
         |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // smoothed-KL drift: one token-sorted left fold (the text_entropy
    // recipe) makes the float sum order-exact on both engines
    "text_drift" -> {
      val isInc = s"(${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 10) = 9"
      s"""WITH t AS (SELECT doc_id, text, $isInc AS is_inc FROM documents),
         |std AS (SELECT unnest(string_split(text, ' ')) AS token
         |  FROM t WHERE NOT is_inc),
         |del AS (SELECT unnest(string_split(text, ' ')) AS token
         |  FROM t WHERE is_inc),
         |vocab AS (SELECT token, count(*) AS cs FROM std GROUP BY token
         |  ORDER BY count(*) DESC, token ASC LIMIT 500),
         |dcnt AS (SELECT token, count(*) AS cd FROM del GROUP BY token),
         |j AS (SELECT v.token, CAST(coalesce(d.cd, 0) AS BIGINT) AS cd, v.cs
         |  FROM vocab v LEFT JOIN dcnt d USING (token)),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |  list_sort(list({'token': token, 'cd': cd, 'cs': cs})) AS ts FROM j),
         |tot AS (SELECT (SELECT count(*) FROM del) AS nd,
         |  (SELECT count(*) FROM std) AS ns)
         |SELECT CAST(k AS INT) AS n_terms,
         |  round(list_reduce(list_prepend(0.0, list_transform(ts, x ->
         |    ((x.cd + 1) / (nd + k)) *
         |      ln(((x.cd + 1) / (nd + k)) / ((x.cs + 1) / (ns + k))))),
         |    (acc, v) -> acc + v), 6) AS kl_drift
         |FROM a, tot""".stripMargin
    },

    // same banded candidates as the minhash pipeline, then asymmetric
    // containment over distinct shingle sets in both directions
    "dedup_containment" ->
      s"""WITH $minhashPairsCte,
         |cont AS (SELECT doc_a, doc_b,
         |  round(len(list_distinct(list_intersect(sa.sh, sb.sh))) /
         |        len(list_distinct(sa.sh)), 4) AS cont_a,
         |  round(len(list_distinct(list_intersect(sa.sh, sb.sh))) /
         |        len(list_distinct(sb.sh)), 4) AS cont_b
         |  FROM cand JOIN sh sa ON sa.doc_id = doc_a
         |            JOIN sh sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, cont_a, cont_b FROM cont
         |WHERE greatest(cont_a, cont_b) >= 0.4
         |ORDER BY doc_a, doc_b""".stripMargin,

    // winnowing: per-position window minima over the SAME base-hash
    // stream the minhash family uses (duck48 twin of shingle_hashes)
    "text_winnow" -> {
      val h48 = SharedHash.duck48("s")
      s"""WITH tok AS ($tokensCte),
         |shl AS (SELECT doc_id, $shinglesCase AS sh FROM tok),
         |u AS (SELECT doc_id, unnest(sh) AS s,
         |  generate_subscripts(sh, 1) AS pos FROM shl),
         |pos AS (SELECT doc_id, pos, $h48 AS h FROM u),
         |sel AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id
         |  ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM pos)
         |SELECT DISTINCT doc_id, fp FROM sel
         |ORDER BY doc_id, fp""".stripMargin
    },

    // the full curation pipeline, recomputed independently end-to-end:
    // exact dedup -> LSH pairs -> recursive-CTE closure -> quality gate
    "corpus_curate" ->
      s"""WITH RECURSIVE $curateDroppedChain
         |SELECT doc_id, CAST(len(tokens) AS INT) AS n_tokens,
         |  round(len(list_distinct(tokens)) / len(tokens), 4) AS ttr
         |FROM tok
         |WHERE $curateKeepPredicate
         |ORDER BY doc_id""".stripMargin,

    // sequence-packing manifest: same running-sum bin assignment (unique
    // doc_id per source, so the default RANGE frame matches on both sides)
    "corpus_pack" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
         |    AS BIGINT) AS cum FROM t)
         |SELECT source, CAST((cum - n_tokens) // ${Corpus.TokenBudget} AS INT) AS bin,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    // packed-sample manifest: same window, offset arithmetic exposed
    "corpus_pack_offsets" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
         |    AS BIGINT) AS cum FROM t)
         |SELECT doc_id, source,
         |  CAST((cum - n_tokens) // ${Corpus.TokenBudget} AS INT) AS bin,
         |  CAST(cum - n_tokens -
         |    ((cum - n_tokens) // ${Corpus.TokenBudget}) * ${Corpus.TokenBudget}
         |    AS INT) AS "offset",
         |  n_tokens
         |FROM c ORDER BY doc_id""".stripMargin,

    // k-anonymity audit: group-cardinality report with suppression flag
    "q_kanon" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  (count(*) < ${graft.ops.DataQuality.KAnonThreshold}) AS suppress
         |FROM documents GROUP BY lang, source
         |ORDER BY lang, source""".stripMargin,

    // decontamination: identical 8-token shingle hashing, hash split, and
    // overlap join recomputed from the same SharedHash constants
    "corpus_contamination" -> {
      val n = Corpus.ContamGramLen
      val gram = SharedHash.duck48(s"array_to_string(tokens[i:i+${n - 1}], ' ')")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens
         |  FROM documents),
         |g AS (SELECT doc_id,
         |  list_distinct(list_transform(
         |    range(1, greatest(len(tokens) - ${n - 1}, 1) + 1),
         |    i -> $gram)) AS grams,
         |  (${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 10) = 9 AS is_eval
         |  FROM t),
         |tg AS (SELECT DISTINCT unnest(grams) AS gh FROM g WHERE NOT is_eval),
         |ed AS (SELECT doc_id, CAST(len(grams) AS INT) AS n_grams, grams
         |  FROM g WHERE is_eval),
         |eg AS (SELECT doc_id, unnest(grams) AS gh FROM ed),
         |h AS (SELECT eg.doc_id, count(*) AS n_hits
         |  FROM eg JOIN tg USING (gh) GROUP BY eg.doc_id)
         |SELECT ed.doc_id, ed.n_grams,
         |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CAST(COALESCE(h.n_hits, 0) AS BIGINT) / ed.n_grams, 4)
         |    AS contam_ratio
         |FROM ed LEFT JOIN h ON ed.doc_id = h.doc_id
         |ORDER BY ed.doc_id""".stripMargin
    },

    // fuzzy decontamination: the dedup_incremental band probe with the
    // verdict side reversed — per contaminated TRAIN doc, its best eval
    // near-dup (max jaccard, ties min eval id) at the family threshold
    "corpus_contamination_fuzzy" -> {
      val bandSelects = (0 until Dedup.NumBands).map { j =>
        val key = (0 until Dedup.RowsPerBand)
          .map(r => s"CAST(mh_${j * Dedup.RowsPerBand + r} AS VARCHAR)")
          .mkString(" || '_' || ")
        s"SELECT doc_id, is_inc, $j AS band, $key AS key FROM mh"
      }.mkString(" UNION ALL ")
      s"""WITH tok AS (SELECT doc_id, text,
         |  string_split(text, ' ') AS tokens,
         |  (${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 10) = 9 AS is_inc
         |  FROM documents),
         |sh AS (SELECT doc_id, is_inc, $shinglesCase AS sh FROM tok),
         |mh AS (SELECT doc_id, is_inc, $minhashCols FROM sh),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS eval_id
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.key = b.key AND a.is_inc AND NOT b.is_inc),
         |v AS (SELECT cand.doc_id, cand.eval_id,
         |  round(len(list_distinct(list_intersect(sb.sh, sa.sh))) /
         |        len(list_distinct(sb.sh || sa.sh)), 4) AS jaccard
         |  FROM cand JOIN sh sa ON sa.doc_id = cand.eval_id
         |            JOIN sh sb ON sb.doc_id = cand.doc_id),
         |r AS (SELECT doc_id, eval_id, jaccard,
         |  row_number() OVER (PARTITION BY doc_id
         |    ORDER BY jaccard DESC, eval_id ASC) AS rnk
         |  FROM v WHERE jaccard >= ${Dedup.JaccardThreshold})
         |SELECT doc_id, eval_id AS eval_match, jaccard
         |FROM r WHERE rnk = 1 ORDER BY doc_id""".stripMargin
    },

    // mixture sampling: identical md5-derived bucket, identical CASE rates
    "corpus_mixture" -> {
      val cases = Corpus.MixtureRates
        .map { case (src, pct) => s"WHEN '$src' THEN $pct" }.mkString(" ")
      s"""SELECT doc_id, source,
         |  CAST(${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 100 AS INT) AS bucket
         |FROM documents
         |WHERE CAST(${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 100 AS INT) <
         |  (CASE source $cases ELSE ${Corpus.MixtureDefaultRate} END)
         |ORDER BY doc_id""".stripMargin
    },

    // multi-epoch mixture: integer percent div/mod against the same
    // hash bucket; the repeat explode replays as unnest(range(n))
    "corpus_epochs" -> {
      val cases = Corpus.EpochPct
        .map { case (src, pct) => s"WHEN '$src' THEN $pct" }.mkString(" ")
      s"""WITH r AS (SELECT doc_id, source,
         |  (CASE source $cases ELSE ${Corpus.EpochDefaultPct} END) AS f_pct,
         |  CAST(${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 100 AS INT)
         |    AS bucket
         |  FROM documents),
         |n AS (SELECT doc_id, source,
         |  (f_pct // 100 +
         |   CASE WHEN bucket < f_pct % 100 THEN 1 ELSE 0 END) AS n_copies
         |  FROM r)
         |SELECT doc_id, source, CAST(t.c AS INT) AS copy
         |FROM n, unnest(range(n_copies)) AS t(c)
         |ORDER BY doc_id, copy""".stripMargin
    },

    // curriculum shards: range banding on micro-unit TTR + per-phase
    // hash-ordered position — both replayed verbatim
    "corpus_curriculum" -> {
      val h = SharedHash.duck48("CAST(doc_id AS VARCHAR)")
      val p = graft.ops.Corpus.CurriculumPhases
      s"""WITH q AS (SELECT doc_id,
         |  CAST(round(len(list_distinct(string_split(text, ' '))) /
         |    len(string_split(text, ' ')) * 1e6, 0) AS BIGINT) AS ttr_u,
         |  $h AS h FROM documents),
         |ph AS (SELECT doc_id, ttr_u, h,
         |  CAST(least($p - 1, ttr_u * $p // 1000000) AS INT) AS phase
         |  FROM q)
         |SELECT doc_id, ttr_u, phase, CAST(row_number() OVER (
         |  PARTITION BY phase ORDER BY h, doc_id) AS INT) AS pos
         |FROM ph ORDER BY doc_id""".stripMargin
    },

    // stratified exact-size sample: same hash ordering, same per-stratum
    // ceil cutoff
    // per-source frequency cap: same engine-stable hash order as the
    // stratified sample, absolute cap instead of a fraction
    "corpus_source_cap" -> {
      val h = SharedHash.duck48("CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (SELECT doc_id, source, $h AS h FROM documents),
         |r AS (SELECT doc_id, source,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
         |    AS INT) AS rnk FROM d)
         |SELECT doc_id, source, rnk FROM r
         |WHERE rnk <= ${Corpus.SourceCapN}
         |ORDER BY doc_id""".stripMargin
    },

    "corpus_stratified" -> {
      val h = SharedHash.duck48("CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (SELECT doc_id, source, $h AS h FROM documents),
         |r AS (SELECT doc_id, source,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
         |    AS INT) AS rn,
         |  count(*) OVER (PARTITION BY source) AS n_src FROM d)
         |SELECT doc_id, source, rn FROM r
         |WHERE rn <= ceil(n_src * ${Corpus.StratifiedPct} / 100.0)
         |ORDER BY doc_id""".stripMargin
    },

    // clusters: transitive closure of the same pair graph (recursive CTE —
    // an independent implementation of our label-propagation loop)
    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCte,
         |good AS (SELECT doc_a, doc_b FROM pairs
         |  WHERE jaccard >= ${Dedup.JaccardThreshold}),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM good
         |  UNION SELECT doc_b, doc_a FROM good),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    // exact-recall clusters: the intersection-count pair join (no prefix
    // filter — exactness makes the oracle algorithm-independent) closed
    // transitively; the engine's prefix-filtered CC must reproduce it
    "dedup_clusters_exact" ->
      s"""WITH RECURSIVE tok AS ($tokensCte),
         |sh AS (SELECT doc_id, list_distinct(
         |  list_transform(($shinglesCase), x -> ${SharedHash.duck48("x")})) AS hs
         |  FROM tok),
         |sz AS (SELECT doc_id, len(hs) AS sz FROM sh),
         |ex AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS i FROM ex a JOIN ex b ON a.h = b.h
         |  AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |good AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = inter.doc_a
         |  JOIN sz sb ON sb.doc_id = inter.doc_b
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.3),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM good
         |  UNION SELECT doc_b, doc_a FROM good),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    // near-dup policy keeper: same recursive closure as dedup_clusters,
    // then the fully-tie-broken (n_chars desc, doc_id asc) window per
    // cluster; singletons form their own cluster via the left join
    "dedup_clusters_policy" ->
      s"""WITH RECURSIVE $minhashPairsCte,
         |good AS (SELECT doc_a, doc_b FROM pairs
         |  WHERE jaccard >= ${Dedup.JaccardThreshold}),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM good
         |  UNION SELECT doc_b, doc_a FROM good),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
         |  FROM reach GROUP BY a),
         |m AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster,
         |  d.n_chars
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         |k AS (SELECT cluster, doc_id AS keeper FROM (
         |  SELECT cluster, doc_id, row_number() OVER (PARTITION BY cluster
         |    ORDER BY n_chars DESC, doc_id ASC) AS rnk FROM m) t
         |  WHERE rnk = 1)
         |SELECT m.doc_id, m.cluster, k.keeper,
         |  (k.keeper = m.doc_id) AS kept
         |FROM m JOIN k USING (cluster) ORDER BY m.doc_id""".stripMargin,

    // duplicate-group size histogram: the pre-join scout for the exact
    // pair family (group of size g contributes g*(g-1)/2 true pairs)
    "dedup_group_histogram" ->
      """SELECT group_size, count(*) AS n_groups FROM (
        |  SELECT md5(text) AS fp, count(*) AS group_size
        |  FROM documents GROUP BY 1)
        |GROUP BY 1 ORDER BY group_size""".stripMargin,

    "dedup_jaccard_pairs" ->
      s"""WITH tok AS ($tokensCte),
         |sh AS (SELECT doc_id, $shinglesCase AS sh FROM tok WHERE doc_id < 200),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_distinct(list_intersect(a.sh, b.sh))) /
         |        len(list_distinct(a.sh || b.sh)), 4) AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Exactness makes the oracle algorithm-independent: the prefix filter
    // must reproduce the full intersection-count join bit-for-bit. The
    // threshold test uses the unrounded ratio on both sides (one IEEE
    // division); round(,4) is display-only.
    "dedup_prefix_join" ->
      s"""WITH tok AS ($tokensCte),
         |sh AS (SELECT doc_id, list_distinct(
         |  list_transform(($shinglesCase), x -> ${SharedHash.duck48("x")})) AS hs
         |  FROM tok),
         |sz AS (SELECT doc_id, len(hs) AS sz FROM sh),
         |ex AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS i FROM ex a JOIN ex b ON a.h = b.h
         |  AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b,
         |  CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jraw
         |  FROM inter JOIN sz sa ON sa.doc_id = inter.doc_a
         |  JOIN sz sb ON sb.doc_id = inter.doc_b)
         |SELECT doc_a, doc_b, round(jraw, 4) AS jaccard FROM j
         |WHERE jraw >= 0.3 ORDER BY doc_a, doc_b""".stripMargin,

    // Exact-recall intake probe: same algorithm-independent oracle shape
    // as dedup_prefix_join, restricted to (standing, delta) cross pairs
    // under the shared hash-bucket split. The engine answers it from the
    // persisted index without reading standing text; the oracle recomputes
    // everything — byte equality proves the index path loses nothing.
    "dedup_prefix_probe_indexed" ->
      s"""WITH tok AS (SELECT doc_id, text,
         |  string_split(text, ' ') AS tokens,
         |  (${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 10) = 9 AS is_inc
         |  FROM documents),
         |sh AS (SELECT doc_id, is_inc, list_distinct(
         |  list_transform(($shinglesCase), x -> ${SharedHash.duck48("x")})) AS hs
         |  FROM tok),
         |sz AS (SELECT doc_id, len(hs) AS sz FROM sh),
         |ex AS (SELECT doc_id, is_inc, unnest(hs) AS h FROM sh),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS i FROM ex a JOIN ex b ON a.h = b.h
         |  AND NOT a.is_inc AND b.is_inc GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b,
         |  CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jraw
         |  FROM inter JOIN sz sa ON sa.doc_id = inter.doc_a
         |  JOIN sz sb ON sb.doc_id = inter.doc_b)
         |SELECT doc_a, doc_b, round(jraw, 4) AS jaccard FROM j
         |WHERE jraw >= ${graft.ops.Dedup.JaccardThreshold}
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_editdist" ->
      """WITH heads AS (
        |  SELECT doc_id, substr(text, 1, 40) AS head
        |  FROM documents WHERE doc_id < 150)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.head, b.head) AS INT) AS dist
        |FROM heads a JOIN heads b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 10
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH t AS ($tokensCte),
         |hh AS (SELECT doc_id,
         |  list_transform(tokens, t -> ${SharedHash.duck48("t")}) AS hs FROM t)
         |SELECT doc_id, $simhashTerms AS simhash FROM hh ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH t AS ($tokensCte),
         |hh AS (SELECT doc_id,
         |  list_transform(tokens, t -> ${SharedHash.duck48("t")}) AS hs
         |  FROM t WHERE doc_id < 400),
         |sig AS (SELECT doc_id, $simhashTerms AS simhash FROM hh)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= ${Dedup.HammingThreshold}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Banded recall is exact (hamming ≤ 2 < 4 bands ⇒ an intact shared
    // band always collides), so the oracle is simply the full-range
    // pairwise scan — the banding must reproduce it bit-for-bit.
    "dedup_simhash_lsh" ->
      s"""WITH t AS ($tokensCte),
         |hh AS (SELECT doc_id,
         |  list_transform(tokens, t -> ${SharedHash.duck48("t")}) AS hs FROM t),
         |sig AS (SELECT doc_id, $simhashTerms AS simhash FROM hh)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= ${Dedup.HammingThreshold}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // 64-bit twin: same full-range pairwise oracle (banded recall is exact
    // by the same pigeonhole), signature packed via HUGEINT then mapped to
    // two's-complement BIGINT so bit 63 survives DuckDB's checked shifts.
    "dedup_simhash_lsh64" ->
      s"""WITH t AS ($tokensCte),
         |hh AS (SELECT doc_id,
         |  list_transform(tokens, t -> ${SharedHash.duck48("t")}) AS hs,
         |  list_transform(tokens, t -> ${SharedHash.duck48b("t")}) AS hs2 FROM t),
         |sigu AS (SELECT doc_id, $simhash64Terms AS h FROM hh),
         |sig AS (SELECT doc_id,
         |  CASE WHEN h >= 9223372036854775808::HUGEINT
         |       THEN CAST(h - 18446744073709551616::HUGEINT AS BIGINT)
         |       ELSE CAST(h AS BIGINT) END AS simhash FROM sigu)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= ${Dedup.HammingThreshold}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // --- similarity ------------------------------------------------------
    "ann_topk" ->
      s"""WITH $embCte,
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  round(${dotChain("q.e", "c.e")} / (sqrt(q.nrm) * sqrt(c.nrm)), 6) AS sim
         |  FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
         |r AS (SELECT q_id, c_id, sim,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id ASC) AS INT) AS rnk FROM p)
         |SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,

    // Matryoshka rerank: the 100-candidate coarse shortlist (16-dim
    // cosine, ties on (rounded sim16, c_id)) is replayed exactly, then
    // reranked by full-dim cosine — deterministic end to end, so unlike
    // IVF/PQ this ANN variant gets a full hash oracle.
    "ann_truncate" ->
      s"""WITH $embCte,
         |hh AS (SELECT vec_id, e, nrm,
         |  ${dotChainHead("e", "e", 16)} AS hn FROM n),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  round(${dotChainHead("q.e", "c.e", 16)} /
         |    (sqrt(q.hn) * sqrt(c.hn)), 6) AS sim16,
         |  round(${dotChain("q.e", "c.e")} /
         |    (sqrt(q.nrm) * sqrt(c.nrm)), 6) AS sim
         |  FROM hh q JOIN hh c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
         |sl AS (SELECT q_id, c_id, sim, row_number() OVER (
         |  PARTITION BY q_id ORDER BY sim16 DESC, c_id ASC) AS crnk FROM p),
         |f AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (
         |  PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS INT) AS rnk
         |  FROM sl WHERE crnk <= 100)
         |SELECT q_id, rnk, c_id, sim FROM f WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,

    "ann_sq8" -> sq8MemberSql(labelFiltered = false),
    "ann_filtered" -> sq8MemberSql(labelFiltered = true),

    // per-dimension stats in exact integer micro-units (the float-sum
    // rule): both engines sum round(v*1e6) as integers, so the mean is
    // order-independent and bit-identical
    "emb_dim_stats" ->
      """WITH x AS (
        |  SELECT CAST(t.dim AS INT) AS dim,
        |    CAST(embedding[t.dim + 1] AS DOUBLE) AS vd
        |  FROM embeddings, range(64) t(dim))
        |SELECT dim, count(*) AS n,
        |  round(sum(CAST(round(vd * 1e6, 0) AS BIGINT)) / (count(*) * 1e6), 6)
        |    AS mean_v,
        |  round(min(vd), 6) AS min_v,
        |  round(max(vd), 6) AS max_v
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,

    // Gram matrix: per-term micro-unit quantization BEFORE the sum makes
    // the order-dependent double-product sum an exact integer on both
    // engines; DuckDB's HUGEINT sum is cast back to Spark's BIGINT
    "emb_gram" ->
      """WITH x AS (
        |  SELECT CAST(ti.i AS INT) AS i, CAST(tj.j AS INT) AS j,
        |    CAST(round(CAST(embedding[ti.i + 1] AS DOUBLE)
        |      * CAST(embedding[tj.j + 1] AS DOUBLE) * 1e6) AS BIGINT) AS t
        |  FROM embeddings, range(64) ti(i), range(64) tj(j)
        |  WHERE tj.j >= ti.i)
        |SELECT i, j, count(*) AS n, CAST(sum(t) AS BIGINT) AS s_xy_micro
        |FROM x GROUP BY i, j ORDER BY i, j""".stripMargin,

    "ann_lsh_buckets" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings)
         |SELECT vec_id, CAST($lshBucketTerms AS INT) AS bucket FROM e
         |ORDER BY vec_id""".stripMargin,

    // The full approximate-top-k pipeline is deterministic end to end
    // (seeded buckets → shared-band candidates → rounded cosine →
    // tie-broken row_number), so unlike most ANN implementations it takes
    // a complete oracle, not just a recall bound.
    "ann_lsh" -> {
      import graft.ops.Similarity.{NumBands, BitsPerBand}
      val mask = (1 << BitsPerBand) - 1
      val collide = (0 until NumBands).map { j =>
        s"((q.bucket >> ${j * BitsPerBand}) & $mask) = " +
          s"((c.bucket >> ${j * BitsPerBand}) & $mask)"
      }.mkString(" OR ")
      s"""WITH $embCte,
         |b AS (SELECT vec_id, CAST($lshBucketTerms AS INT) AS bucket FROM n),
         |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
         |  FROM b q JOIN b c
         |  ON q.vec_id < 5 AND q.vec_id <> c.vec_id AND ($collide)),
         |p AS (SELECT q_id, c_id,
         |  round(${dotChain("a.e", "d.e")} / (sqrt(a.nrm) * sqrt(d.nrm)), 6) AS sim
         |  FROM cand JOIN n a ON a.vec_id = q_id JOIN n d ON d.vec_id = c_id),
         |r AS (SELECT q_id, c_id, sim,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id ASC) AS INT) AS rnk FROM p)
         |SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin
    },

    // multi-probe: the probe-key enumeration on the Spark side is
    // semantically "some band differs by ≤1 bit" — stated here directly
    // via bit_count(xor) so the two formulations cross-check each other
    "ann_lsh_multiprobe" -> {
      import graft.ops.Similarity.{NumBands, BitsPerBand}
      val mask = (1 << BitsPerBand) - 1
      val collide = (0 until NumBands).map { j =>
        s"bit_count(CAST(xor((q.bucket >> ${j * BitsPerBand}) & $mask, " +
          s"(c.bucket >> ${j * BitsPerBand}) & $mask) AS BIGINT)) <= 1"
      }.mkString(" OR ")
      s"""WITH $embCte,
         |b AS (SELECT vec_id, CAST($lshBucketTerms AS INT) AS bucket FROM n),
         |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
         |  FROM b q JOIN b c
         |  ON q.vec_id < 5 AND q.vec_id <> c.vec_id AND ($collide)),
         |p AS (SELECT q_id, c_id,
         |  round(${dotChain("a.e", "d.e")} / (sqrt(a.nrm) * sqrt(d.nrm)), 6) AS sim
         |  FROM cand JOIN n a ON a.vec_id = q_id JOIN n d ON d.vec_id = c_id),
         |r AS (SELECT q_id, c_id, sim,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id ASC) AS INT) AS rnk FROM p)
         |SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin
    },

    // The default near-dup binding re-pointed at the wide+multiprobe
    // geometry (r13 measured decision — see SparkEntry): some band's
    // 8-bit keys differ by ≤1 bit — stated in the symmetric
    // bit_count(xor) form, cross-checking the engine's asymmetric
    // probe-explosion formulation (same trick as ann_lsh_multiprobe).
    // The old `emb_dup_lsh_wide_mp` name is retired (it would be this
    // entry duplicated); the dominated 4×4-bit geometry keeps its own
    // ≥1-shared-band oracle under the `_legacy` name.
    "emb_dup_lsh" -> embWideMpPairsSql,

    // Same ≥1-shared-band gate as the Spark plan, recomputed from the
    // literal plane constants — the LSH pair set is hash-checked, not
    // just its exact-scan superset.
    "emb_dup_lsh_legacy" -> embBandPairsSql,

    // WIDE geometry twin: the ≥1-shared-band gate over 8 per-band 8-bit
    // keys, each recomputed from its own 8 literal plane coefficient rows
    "emb_dup_lsh_wide" -> embWidePairsSql,

    // bipartite intake triage: same residue-class split as
    // dedup_incremental, wide band keys from literal planes, delta ×
    // standing collision gate, exact cosine verify, per-delta verdict
    "emb_dup_intake" -> {
      import graft.ops.Similarity.WideNumBands
      val collide = (0 until WideNumBands)
        .map(j => s"a.wb$j = c.wb$j").mkString(" OR ")
      // b is referenced five times (cand ×2, verify ×2, report) and holds
      // the full-corpus plane-literal key expressions — AS MATERIALIZED
      // keeps DuckDB from inlining five copies of that expression tree
      // (the same measured OOM class as the recall report's sig CTE)
      s"""WITH $embCte,
         |b AS MATERIALIZED (SELECT vec_id, e, nrm,
         |  (${SharedHash.duck48("CAST(vec_id AS VARCHAR)")} % 10) = 9 AS is_inc,
         |  $wideKeyCols FROM n),
         |cand AS (SELECT DISTINCT a.vec_id AS inc_id, c.vec_id AS ex_id
         |  FROM b a JOIN b c ON a.is_inc AND NOT c.is_inc AND ($collide)),
         |near AS (SELECT inc_id, CAST(count(*) AS BIGINT) AS n_near FROM cand
         |  JOIN b x ON x.vec_id = cand.inc_id
         |  JOIN b y ON y.vec_id = cand.ex_id
         |  WHERE round(${dotChain("x.e", "y.e")} / (sqrt(x.nrm) * sqrt(y.nrm)), 6) >= 0.35
         |  GROUP BY inc_id)
         |SELECT t.vec_id, CAST(COALESCE(near.n_near, 0) AS BIGINT) AS n_near,
         |  CASE WHEN COALESCE(near.n_near, 0) > 0 THEN 'near'
         |       ELSE 'novel' END AS verdict
         |FROM b t LEFT JOIN near ON near.inc_id = t.vec_id
         |WHERE t.is_inc ORDER BY t.vec_id""".stripMargin
    },

    "emb_dup_pairs" ->
      s"""WITH $embCte,
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${dotChain("a.e", "b.e")} / (sqrt(a.nrm) * sqrt(b.nrm)), 6) AS sim
         |  FROM n a JOIN n b
         |  ON a.vec_id < b.vec_id AND a.vec_id < 300 AND b.vec_id < 300)
         |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,

    // incremental dedup: same hash-bucket split, digest semi-join, and
    // bipartite band probe recomputed from the shared MinHash constants
    "dedup_incremental" -> {
      val bandSelects = (0 until Dedup.NumBands).map { j =>
        val key = (0 until Dedup.RowsPerBand)
          .map(r => s"CAST(mh_${j * Dedup.RowsPerBand + r} AS VARCHAR)")
          .mkString(" || '_' || ")
        s"SELECT doc_id, is_inc, $j AS band, $key AS key FROM mh"
      }.mkString(" UNION ALL ")
      s"""WITH tok AS (SELECT doc_id, text,
         |  string_split(text, ' ') AS tokens,
         |  (${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 10) = 9 AS is_inc
         |  FROM documents),
         |sh AS (SELECT doc_id, is_inc, text, $shinglesCase AS sh FROM tok),
         |mh AS (SELECT doc_id, is_inc, $minhashCols FROM sh),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS ex_id
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.key = b.key AND a.is_inc AND NOT b.is_inc),
         |near AS (SELECT inc_id, count(*) AS n_near FROM cand
         |  JOIN sh sa ON sa.doc_id = cand.inc_id
         |  JOIN sh sb ON sb.doc_id = cand.ex_id
         |  WHERE round(len(list_distinct(list_intersect(sa.sh, sb.sh))) /
         |        len(list_distinct(sa.sh || sb.sh)), 4) >= ${Dedup.JaccardThreshold}
         |  GROUP BY inc_id),
         |ex_fp AS (SELECT DISTINCT md5(text) AS fp FROM tok WHERE NOT is_inc),
         |exact AS (SELECT DISTINCT doc_id FROM tok
         |  WHERE is_inc AND md5(text) IN (SELECT fp FROM ex_fp))
         |SELECT t.doc_id,
         |  t.doc_id IN (SELECT doc_id FROM exact) AS is_exact,
         |  CAST(COALESCE(n.n_near, 0) AS BIGINT) AS n_near,
         |  CASE WHEN t.doc_id IN (SELECT doc_id FROM exact) THEN 'exact'
         |       WHEN COALESCE(n.n_near, 0) > 0 THEN 'near'
         |       ELSE 'novel' END AS verdict
         |FROM tok t LEFT JOIN near n ON n.inc_id = t.doc_id
         |WHERE t.is_inc ORDER BY t.doc_id""".stripMargin
    },

    // bloom-gated exact triage: the gate is correctness-neutral (no false
    // negatives; positives are exact-verified), so the oracle is the plain
    // gate-free membership semi-join
    "dedup_bloom_gate" ->
      s"""WITH t AS (SELECT doc_id, md5(text) AS fp,
         |  (${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 10) = 9 AS is_inc
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN fp IN (SELECT fp FROM t WHERE NOT is_inc)
         |       THEN 'dup' ELSE 'novel' END AS verdict
         |FROM t WHERE is_inc ORDER BY doc_id""".stripMargin,

    // exact substring duplication: identical overlapping-gram hashing
    // (clipped slice for short docs), per-doc distinct, df cap, pair join
    "dedup_substring" -> {
      val n = Dedup.SubstrGramLen
      val gram = SharedHash.duck48(s"array_to_string(tokens[i:i+${n - 1}], ' ')")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens
         |  FROM documents),
         |g0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(tokens) - ${n - 1}, 1) + 1),
         |    i -> $gram))) AS g FROM t),
         |rare AS (SELECT g FROM g0 GROUP BY g
         |  HAVING count(*) <= ${Dedup.SubstrMaxDf}),
         |gf AS (SELECT g0.doc_id, g0.g FROM g0 JOIN rare USING (g))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS n_shared
         |FROM gf a JOIN gf b ON a.g = b.g AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin
    },

    // ExactSubstr span removal: same gram-hash stream as dedup_substring
    // but with positions kept; covered indices fold identically (distinct
    // + sort), and the split/join round-trip is byte-exact on both engines
    "dedup_substring_clean" -> {
      val n = Dedup.SubstrGramLen
      val gram = SharedHash.duck48(s"array_to_string(tokens[pos:pos+${n - 1}], ' ')")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens
         |  FROM documents),
         |o0 AS (SELECT doc_id, tokens,
         |    unnest(range(1, CAST(len(tokens) AS BIGINT) - ${n - 2})) AS pos
         |  FROM t WHERE len(tokens) >= $n),
         |oh AS (SELECT doc_id, pos, $gram AS h FROM o0),
         |dup AS (SELECT h FROM oh GROUP BY h HAVING count(*) >= 2),
         |cv AS (SELECT doc_id, list_sort(list_distinct(flatten(
         |    list_transform(list(pos), p -> range(p, p + $n))))) AS cov
         |  FROM oh JOIN dup USING (h) GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(tokens) AS INT) AS n_tokens,
         |  CAST(coalesce(len(cov), 0) AS INT) AS n_dropped,
         |  coalesce(array_to_string(list_transform(
         |    list_filter(range(1, CAST(len(tokens) AS BIGINT) + 1),
         |      i -> NOT list_contains(coalesce(cov, []), i)),
         |    i -> tokens[i]), ' '), '') AS clean_text
         |FROM t LEFT JOIN cv USING (doc_id) ORDER BY t.doc_id""".stripMargin
    },

    // char entropy: the identical char-sorted fold (list_sort +
    // list_reduce), so the float sum is order-deterministic in both
    // engines; `/` is float division in DuckDB, matching Spark's
    // bigint/bigint → double
    "text_entropy" ->
      """WITH c AS (SELECT doc_id, unnest(list_transform(
        |    range(1, len(text) + 1), i -> substr(text, CAST(i AS INT), 1))) AS ch
        |  FROM documents),
        |g AS (SELECT doc_id, ch, count(*) AS cnt FROM c GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
        |  list_sort(list({'ch': ch, 'cnt': cnt})) AS cs
        |  FROM g GROUP BY 1)
        |SELECT doc_id, CAST(n AS INT) AS n_chars,
        |  round(-list_reduce(
        |    list_prepend(0.0, list_transform(cs, x -> (x.cnt / n) * ln(x.cnt / n))),
        |    (acc, v) -> acc + v), 6) AS char_entropy
        |FROM a ORDER BY doc_id""".stripMargin,

    // overlapped token chunking: same window arithmetic, DuckDB's
    // end-inclusive list slice mirrors Spark's (start, length) slice
    "text_chunks" -> {
      val (c, st) = (TextAnalysis.ChunkTokens, TextAnalysis.ChunkStride)
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens
         |  FROM documents),
         |c0 AS (SELECT doc_id, unnest(list_transform(
         |    range(0, greatest(CAST(ceil((len(tokens) - $c) / $st.0) AS BIGINT), 0) + 1),
         |    i -> {'idx': i,
         |          'chunk': array_to_string(tokens[i*$st+1:i*$st+$c], ' ')})) AS s
         |  FROM t)
         |SELECT doc_id, CAST(s.idx AS INT) AS chunk_idx,
         |  CAST(len(string_split(s.chunk, ' ')) AS INT) AS n_tokens,
         |  s.chunk AS chunk_text
         |FROM c0 ORDER BY doc_id, chunk_idx""".stripMargin
    },

    // C4-style segment dedup: same non-overlapping 10-token segmentation,
    // same global first-occurrence rule (ORDER BY doc_id, idx), same
    // in-order reassembly
    "text_segment_dedup" -> {
      val n = TextAnalysis.SegmentLen
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens
         |  FROM documents),
         |s0 AS (SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(CAST(ceil(len(tokens) / $n.0) AS BIGINT), 1) + 1),
         |    i -> {'idx': i - 1,
         |          'seg': array_to_string(tokens[(i-1)*$n+1:(i-1)*$n+$n], ' ')})) AS s
         |  FROM t),
         |segs AS (SELECT doc_id, CAST(s.idx AS INT) AS idx, s.seg AS seg FROM s0),
         |k AS (SELECT doc_id, idx, seg,
         |  row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) = 1 AS kept
         |  FROM segs)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_segs,
         |  CAST(count(*) FILTER (WHERE kept) AS INT) AS n_kept,
         |  COALESCE(string_agg(seg, ' ' ORDER BY idx) FILTER (WHERE kept), '')
         |    AS kept_text
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // boilerplate removal: same fixed segmentation as text_segment_dedup,
    // df over DISTINCT docs, drop-everywhere at the minDf threshold
    "text_boilerplate" -> {
      val n = TextAnalysis.SegmentLen
      val minDf = TextAnalysis.BoilerplateMinDf
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens
         |  FROM documents),
         |s0 AS (SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(CAST(ceil(len(tokens) / $n.0) AS BIGINT), 1) + 1),
         |    i -> {'idx': i - 1,
         |          'seg': array_to_string(tokens[(i-1)*$n+1:(i-1)*$n+$n], ' ')})) AS s
         |  FROM t),
         |segs AS (SELECT doc_id, CAST(s.idx AS INT) AS idx, s.seg AS seg FROM s0),
         |df AS (SELECT seg, count(DISTINCT doc_id) AS df_docs FROM segs
         |  GROUP BY seg),
         |j AS (SELECT doc_id, idx, segs.seg AS seg, df_docs
         |  FROM segs JOIN df USING (seg))
         |SELECT doc_id, CAST(count(*) AS INT) AS n_segs,
         |  CAST(count(*) FILTER (WHERE df_docs >= $minDf) AS INT) AS n_boiler,
         |  COALESCE(string_agg(seg, ' ' ORDER BY idx)
         |    FILTER (WHERE df_docs < $minDf), '') AS clean_text
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // inverted-index head: df over distinct (doc, term), capped sorted
    // posting list; fully tie-broken (df desc, token asc) topK boundary
    "text_postings" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |r AS (SELECT token, doc_id,
        |  row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn FROM t)
        |SELECT token, count(*) AS df_docs,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |    FILTER (WHERE rn <= 50) AS postings
        |FROM r GROUP BY token
        |ORDER BY df_docs DESC, token ASC LIMIT 30""".stripMargin,

    // collocations: zipped-unnest bigram counts; the lift score is exact
    // BIGINT floor division on both engines (non-negative operands), and
    // ranking by lift ≡ ranking by PMI (log is monotone)
    "text_pmi" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT unnest(toks[1:len(toks)-1]) AS w1,
        |             unnest(toks[2:len(toks)]) AS w2
        |  FROM t WHERE len(toks) >= 2),
        |b AS (SELECT w1, w2, count(*) AS n_ab FROM p GROUP BY w1, w2
        |  HAVING count(*) >= 30),
        |u AS (SELECT unnest(toks) AS w FROM t),
        |uc AS (SELECT w, count(*) AS n FROM u GROUP BY w),
        |tot AS (SELECT count(*) AS n_total FROM u)
        |SELECT b.w1, b.w2, n_ab, ua.n AS n_a, ub.n AS n_b,
        |  (n_ab * n_total * 10000) // (ua.n * ub.n) AS lift_q4
        |FROM b CROSS JOIN tot
        |  JOIN uc ua ON b.w1 = ua.w
        |  JOIN uc ub ON b.w2 = ub.w
        |ORDER BY lift_q4 DESC, w1 ASC, w2 ASC LIMIT 50""".stripMargin,

    // dynamic quality gate: same rank-based per-source cutoff (integer
    // comparison — no interpolated percentile to drift)
    "text_quality_gate" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  round(len(list_distinct(string_split(text, ' '))) /
         |        len(string_split(text, ' ')), 6) AS ttr FROM documents),
         |r AS (SELECT doc_id, source, ttr,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY ttr DESC, doc_id ASC) AS INT) AS rnk,
         |  count(*) OVER (PARTITION BY source) AS n_src FROM t)
         |SELECT doc_id, source, ttr FROM r
         |WHERE rnk * 100 <= n_src * ${TextAnalysis.QualityKeepPct}
         |ORDER BY doc_id""".stripMargin,

    // heavy hitters: the sketch stage only GENERATES candidates (provable
    // superset of true hitters under any merge order); the deterministic
    // contract is exact count · (k+1) > total, which SQL states directly
    "text_heavy_hitters" -> {
      val k = TextAnalysis.HeavyHitterK
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |tot AS (SELECT count(*) AS n_total FROM t)
         |SELECT token, count(*) AS n FROM t CROSS JOIN tot
         |GROUP BY token, n_total HAVING count(*) * ${k + 1} > n_total
         |ORDER BY n DESC, token ASC""".stripMargin
    },

    // MOSS stage 2 over the identical fingerprint stream; the sketch
    // self-join + shared-count threshold replayed verbatim
    "dedup_winnow_pairs" -> {
      val h48 = SharedHash.duck48("s")
      s"""WITH tok AS ($tokensCte),
         |shl AS (SELECT doc_id, $shinglesCase AS sh FROM tok),
         |u AS (SELECT doc_id, unnest(sh) AS s,
         |  generate_subscripts(sh, 1) AS pos FROM shl),
         |pos AS (SELECT doc_id, pos, $h48 AS h FROM u),
         |sel AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id
         |  ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM pos),
         |fps AS (SELECT DISTINCT doc_id, fp FROM sel)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS n_shared
         |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY doc_a, doc_b HAVING count(*) >= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    // bipartite winnow probe: same delta bucket as dedup_incremental,
    // same fingerprint stream as text_winnow, best match by
    // (n_shared desc, ex_id asc) row_number — replayed verbatim
    "dedup_winnow_probe" -> {
      val h48 = SharedHash.duck48("s")
      val isInc = s"(${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 10) = 9"
      s"""WITH tok AS (SELECT doc_id, text,
         |  string_split(text, ' ') AS tokens, $isInc AS is_inc
         |  FROM documents),
         |shl AS (SELECT doc_id, is_inc, $shinglesCase AS sh FROM tok),
         |u AS (SELECT doc_id, is_inc, unnest(sh) AS s,
         |  generate_subscripts(sh, 1) AS pos FROM shl),
         |pos AS (SELECT doc_id, is_inc, pos, $h48 AS h FROM u),
         |sel AS (SELECT doc_id, is_inc, min(h) OVER (PARTITION BY doc_id
         |  ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM pos),
         |fps AS (SELECT DISTINCT doc_id, is_inc, fp FROM sel),
         |shared AS (SELECT a.doc_id, b.doc_id AS ex_id, count(*) AS n_shared
         |  FROM fps a JOIN fps b ON a.fp = b.fp
         |  WHERE a.is_inc AND NOT b.is_inc
         |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3),
         |ranked AS (SELECT doc_id, ex_id AS best_match, n_shared,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY n_shared DESC, ex_id ASC) AS INT) AS rnk FROM shared)
         |SELECT doc_id, best_match, n_shared FROM ranked WHERE rnk = 1
         |ORDER BY doc_id""".stripMargin
    },

    // grouped MG: same superset argument per group — the exact recount +
    // threshold is what's checked, not the sketch internals
    "text_heavy_by_lang" -> {
      val k = TextAnalysis.HeavyHitterK
      s"""WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |tot AS (SELECT lang, count(*) AS n_total FROM t GROUP BY lang)
         |SELECT t.lang, token, count(*) AS n
         |FROM t JOIN tot ON t.lang = tot.lang
         |GROUP BY t.lang, token, n_total
         |HAVING count(*) * ${k + 1} > n_total
         |ORDER BY t.lang ASC, n DESC, token ASC""".stripMargin
    },

    // TF-IDF: same smoothed idf = ln((N+1)/(df+1)), same (score desc,
    // term asc) tie-break, row_number cast to Spark's INT
    "text_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, term,
         |  round(tf * ln((n_docs + 1) / (df + 1)), 6) AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT doc_id, term, score,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term ASC) AS INT) AS rnk FROM sc)
         |SELECT doc_id, rnk, term, score FROM r WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin,

    // lexical cosine: BIGINT milli-unit weights → exact dot/norm sums;
    // one deterministic double expression per pair (float-sum rule)
    "dedup_lexical_cosine" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |wu AS (SELECT doc_id, term,
         |  CAST(floor(tf * ln((n_docs + 1) / (df + 1)) * 1000) AS BIGINT) AS w
         |  FROM tf JOIN df USING (term) CROSS JOIN n WHERE df * 10 <= n_docs),
         |nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nr
         |  FROM wu GROUP BY 1),
         |dot AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(sum(a.w * b.w) AS BIGINT) AS d
         |  FROM wu a JOIN wu b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(d / (sqrt(na.nr) * sqrt(nb.nr)), 6) AS cosine
         |FROM dot JOIN nrm na ON na.doc_id = doc_a
         |         JOIN nrm nb ON nb.doc_id = doc_b
         |WHERE round(d / (sqrt(na.nr) * sqrt(nb.nr)), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    // pre-join cost scout for the quadratic tf-idf self-join above:
    // Σ_t df·(df−1)/2 over the df-capped vocabulary — distinct (doc,
    // term) pairs first, same as the engine's tf-then-df derivation
    "dedup_lexical_bound" ->
      """WITH t AS (SELECT DISTINCT doc_id,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |df AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT CAST(coalesce(sum(df * (df - 1) // 2), 0) AS BIGINT) AS bound
        |FROM df CROSS JOIN n WHERE df * 10 <= n_docs""".stripMargin,

    // BM25: identical constant expressions (emitted unevaluated so both
    // engines fold 1.2 + 1 in IEEE double the same way), per-term
    // contributions floored into integral micro-units before the exact
    // BIGINT sum (float-sum rule)
    "text_bm25" -> {
      import graft.ops.TermScoring.{K1, B, QueryTerms}
      s"""WITH d AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS dl,
         |  string_split(text, ' ') AS tokens FROM documents),
         |stats AS (SELECT count(*) AS n_docs, round(avg(dl), 6) AS avgdl FROM d),
         |t AS (SELECT doc_id, dl, unnest(tokens) AS term FROM d),
         |tq AS (SELECT doc_id, dl, term, count(*) AS tf FROM t
         |  WHERE term IN (${inList(QueryTerms)}) GROUP BY 1, 2, 3),
         |df AS (SELECT term, count(*) AS df FROM tq GROUP BY 1),
         |sc AS (SELECT doc_id, CAST(floor(
         |    round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 6)
         |      * (tf * ($K1 + 1))
         |      / (tf + $K1 * (1 - $B + $B * dl / avgdl))
         |      * 1000000) AS BIGINT) AS contrib_u
         |  FROM tq JOIN df USING (term) CROSS JOIN stats)
         |SELECT doc_id, round(sum(contrib_u) / 1000000.0, 6) AS score
         |FROM sc GROUP BY doc_id
         |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
    },

    // RRF hybrid: replays the two hash-oracled constituent rankings
    // (text_bm25's contribution CTEs, ann_topk's cosine chain for vec 0)
    // and fuses with exact integer reciprocals — the composition itself
    // is hash-checked
    "text_hybrid" -> {
      import graft.ops.TermScoring.{K1, B, QueryTerms}
      s"""WITH d AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS dl,
         |  string_split(text, ' ') AS tokens FROM documents),
         |stats AS (SELECT count(*) AS n_docs, round(avg(dl), 6) AS avgdl FROM d),
         |t AS (SELECT doc_id, dl, unnest(tokens) AS term FROM d),
         |tq AS (SELECT doc_id, dl, term, count(*) AS tf FROM t
         |  WHERE term IN (${inList(QueryTerms)}) GROUP BY 1, 2, 3),
         |df AS (SELECT term, count(*) AS df FROM tq GROUP BY 1),
         |sc AS (SELECT doc_id, CAST(floor(
         |    round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 6)
         |      * (tf * ($K1 + 1))
         |      / (tf + $K1 * (1 - $B + $B * dl / avgdl))
         |      * 1000000) AS BIGINT) AS contrib_u
         |  FROM tq JOIN df USING (term) CROSS JOIN stats),
         |lex0 AS (SELECT doc_id, round(sum(contrib_u) / 1000000.0, 6) AS score
         |  FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 20),
         |lexr AS (SELECT doc_id, CAST(row_number() OVER (
         |  ORDER BY score DESC, doc_id ASC) AS INT) AS lex_rnk FROM lex0),
         |$embCte,
         |semp AS (SELECT c.vec_id AS doc_id,
         |  round(${dotChain("q.e", "c.e")} /
         |    (sqrt(q.nrm) * sqrt(c.nrm)), 6) AS sim
         |  FROM n q JOIN n c ON q.vec_id = 0 AND c.vec_id <> 0),
         |semr0 AS (SELECT doc_id, CAST(row_number() OVER (
         |  ORDER BY sim DESC, doc_id ASC) AS INT) AS sem_rnk FROM semp),
         |semr AS (SELECT doc_id, sem_rnk FROM semr0 WHERE sem_rnk <= 20),
         |f AS (SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id,
         |  l.lex_rnk, r.sem_rnk,
         |  (COALESCE(1000000 // (60 + l.lex_rnk), 0)
         |    + COALESCE(1000000 // (60 + r.sem_rnk), 0)) AS rrf
         |  FROM lexr l FULL OUTER JOIN semr r ON l.doc_id = r.doc_id)
         |SELECT doc_id, CAST(rrf AS BIGINT) AS rrf_u, lex_rnk, sem_rnk
         |FROM f ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin
    },

    // conjunctive search: same BM25 contribution CTEs, AND-gated on every
    // query term being present, n_hits carried as the summed tf
    "text_search" -> {
      import graft.ops.TermScoring.{K1, B, QueryTerms}
      s"""WITH d AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS dl,
         |  string_split(text, ' ') AS tokens FROM documents),
         |stats AS (SELECT count(*) AS n_docs, round(avg(dl), 6) AS avgdl FROM d),
         |t AS (SELECT doc_id, dl, unnest(tokens) AS term FROM d),
         |tq AS (SELECT doc_id, dl, term, count(*) AS tf FROM t
         |  WHERE term IN (${inList(QueryTerms)}) GROUP BY 1, 2, 3),
         |df AS (SELECT term, count(*) AS df FROM tq GROUP BY 1),
         |sc AS (SELECT doc_id, term, tf, CAST(floor(
         |    round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 6)
         |      * (tf * ($K1 + 1))
         |      / (tf + $K1 * (1 - $B + $B * dl / avgdl))
         |      * 1000000) AS BIGINT) AS contrib_u
         |  FROM tq JOIN df USING (term) CROSS JOIN stats)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_hits,
         |  round(sum(contrib_u) / 1000000.0, 6) AS score
         |FROM sc GROUP BY doc_id
         |HAVING count(DISTINCT term) = ${QueryTerms.size}
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin
    },

    // column profiler: one SELECT per profiled column, string-rendered
    // min/max (UTC session makes timestamp rendering identical)
    "q_profile" -> {
      val selects = graft.ops.Profiler.LineitemCols.map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count(*) FILTER (WHERE $c IS NULL) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value FROM lineitem"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$selects\nORDER BY "column""""
    },

    // Z-order key: the same magic-number spread chain, one CTE per step,
    // constants emitted from ZOrder2.SpreadSteps so dialects cannot drift
    "q_zorder_key" -> {
      import graft.functions.ZOrder2.{Low32Mask, SpreadSteps}
      val steps = SpreadSteps.zipWithIndex.map { case ((shift, mask), i) =>
        s"""s${i + 1} AS (SELECT event_id, user_id, bucket,
           |  ((xa | (xa << $shift)) & $mask) AS xa,
           |  ((xb | (xb << $shift)) & $mask) AS xb FROM s$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT event_id, user_id,
         |  epoch_ns(ts) // 3600000000000 AS bucket FROM events),
         |s0 AS (SELECT event_id, user_id, bucket,
         |  (user_id & $Low32Mask) AS xa, (bucket & $Low32Mask) AS xb FROM e),
         |$steps
         |SELECT event_id, user_id, bucket,
         |  (xa | (xb << 1)) AS zkey
         |FROM s${SpreadSteps.size} ORDER BY event_id""".stripMargin
    },

    // MERGE upsert: same modulo-derived changeset, same full-outer fold
    "q_upsert" -> upsertSql,

    // Merge-on-read twin: the reconciling read view must be
    // indistinguishable from the copy-on-write rewrite, so the oracle is
    // q_upsert's SQL — the same string, so the two can never drift.
    "q_upsert_mor" -> upsertSql,
    // time travel: as-of batch 0 must reproduce the single-batch merge
    // byte-for-byte even though a later delete wave sits in the log
    "q_upsert_asof" -> upsertSql,

    // cohort retention: same integer-division day bucketing over the
    // BIGINT epoch-ns timestamps
    "q_cohort_retention" ->
      s"""WITH a AS (SELECT DISTINCT user_id,
         |  epoch_ns(ts) // ${graft.ops.Analytics.NsPerDay} AS day FROM events),
         |c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
         |SELECT cohort_day, day - cohort_day AS day_offset,
         |  count(DISTINCT user_id) AS n_users
         |FROM a JOIN c USING (user_id)
         |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,

    // Q5 star join: same local-supplier condition, same integral-cent
    // revenue (floor before the exact BIGINT sum — float-sum rule)
    "q_star_join" ->
      """SELECT n_name, count(*) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue_cents DESC, n_name""".stripMargin,

    // LOCF gap fill: same per-user day spans, same ignore-nulls carry
    "q_gapfill" ->
      s"""WITH daily AS (SELECT user_id,
         |  epoch_ns(ts) // ${graft.ops.Analytics.NsPerDay} AS day,
         |  count(*) AS n FROM events GROUP BY 1, 2),
         |spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1
         |  FROM daily GROUP BY 1),
         |days AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM spans),
         |j AS (SELECT d.user_id, d.day, daily.n FROM days d
         |  LEFT JOIN daily ON daily.user_id = d.user_id AND daily.day = d.day)
         |SELECT user_id, day,
         |  last_value(n IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_events,
         |  n IS NULL AS is_filled
         |FROM j ORDER BY user_id, day""".stripMargin,

    // triangle count: same ordered-wedge 3-join over the shared MinHash
    // pair CTE
    "dedup_triangles" ->
      s"""WITH $minhashPairsCte,
         |good AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  WHERE jaccard >= ${Dedup.JaccardThreshold})
         |SELECT count(*) AS n_triangles
         |FROM good e1 JOIN good e2 ON e1.b = e2.a
         |JOIN good e3 ON e1.a = e3.a AND e2.b = e3.b""".stripMargin,

    // SCD2 history: same lag-collapse / lead-close staging over the same
    // integer-arithmetic changelog
    "q_scd2" ->
      """WITH v AS (
        |  SELECT doc_id, n_chars AS val, 0 AS batch FROM documents
        |  UNION ALL SELECT doc_id, n_chars + 10, 1 FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id, n_chars + 20, 2 FROM documents WHERE doc_id % 7 = 0),
        |c AS (SELECT doc_id, val, batch,
        |  lag(val) OVER (PARTITION BY doc_id ORDER BY batch) AS prev FROM v),
        |iv AS (SELECT doc_id, val, batch AS valid_from FROM c
        |  WHERE prev IS NULL OR val <> prev)
        |SELECT doc_id, val, valid_from, valid_to, valid_to IS NULL AS is_current
        |FROM (SELECT doc_id, val, valid_from,
        |  lead(valid_from) OVER (PARTITION BY doc_id ORDER BY valid_from) - 1 AS valid_to
        |  FROM iv)
        |ORDER BY doc_id, valid_from""".stripMargin,

    // data-quality expectations: same fused per-table conditional
    // aggregates, NOT EXISTS for the referential check (key columns are
    // null-free, but EXISTS dodges the NOT IN null trap on principle)
    "q_dq_report" ->
      """WITH lia AS (SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
        |  CAST(sum(CASE WHEN l_quantity <= 0 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_range,
        |  CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_price,
        |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS discount_range
        |  FROM lineitem),
        |orda AS (SELECT count(*) AS n,
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_pk,
        |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS status_domain,
        |  CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_total
        |  FROM orders),
        |orph AS (SELECT (SELECT count(*) FROM lineitem) AS n, CAST(count(*) AS BIGINT) AS orphans
        |  FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |SELECT 'lineitem_discount_in_[0,1]' AS "check", 'lineitem' AS "table",
        |  n AS n_checked, discount_range AS n_violations, discount_range = 0 AS pass FROM lia
        |UNION ALL SELECT 'lineitem_orderkey_not_null', 'lineitem', n, null_orderkey, null_orderkey = 0 FROM lia
        |UNION ALL SELECT 'lineitem_price_non_negative', 'lineitem', n, neg_price, neg_price = 0 FROM lia
        |UNION ALL SELECT 'lineitem_quantity_in_(0,50]', 'lineitem', n, qty_range, qty_range = 0 FROM lia
        |UNION ALL SELECT 'lineitem_refs_existing_order', 'lineitem', n, orphans, orphans = 0 FROM orph
        |UNION ALL SELECT 'orders_pk_unique', 'orders', n, dup_pk, dup_pk = 0 FROM orda
        |UNION ALL SELECT 'orders_status_in_domain', 'orders', n, status_domain, status_domain = 0 FROM orda
        |UNION ALL SELECT 'orders_totalprice_positive', 'orders', n, nonpos_total, nonpos_total = 0 FROM orda
        |ORDER BY "check"""".stripMargin,

    // bigram LM score: identical conditional-MLE model (prefix occurrences
    // as denominator), micro-unit floor before the per-doc sum (float-sum
    // rule), parallel unnests zip in DuckDB. ln(), not log() — DuckDB's
    // log() is base 10.
    "text_lm_score" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
         |bi AS (SELECT doc_id,
         |  unnest(list_transform(range(1, CAST(len(toks) AS BIGINT)), i -> toks[i])) AS a,
         |  unnest(list_transform(range(1, CAST(len(toks) AS BIGINT)), i -> toks[i + 1])) AS b
         |  FROM tok),
         |cnt2 AS (SELECT a, b, count(*) AS c2 FROM bi GROUP BY 1, 2),
         |cnt1 AS (SELECT a, count(*) AS c1 FROM bi GROUP BY 1),
         |model AS (SELECT a, b,
         |  CAST(floor(ln(c2 / c1) * ${graft.ops.TermScoring.LmUnit}) AS BIGINT) AS w_u
         |  FROM cnt2 JOIN cnt1 USING (a))
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(CAST(sum(w_u) AS BIGINT) / (count(*) * 1000000.0), 4) AS lm_score
         |FROM bi JOIN model USING (a, b)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // zone-map pruned range scan: the oracle is the plain predicate over
    // the full table — a hash match proves the file-skipping read set
    // loses no rows (the Spark side `require`s that it DID skip files)
    "q_zonemap_scan" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents
         |WHERE doc_id BETWEEN ${graft.sources.ZoneMaps.ScanLo}
         |  AND ${graft.sources.ZoneMaps.ScanHi}
         |GROUP BY source ORDER BY source""".stripMargin,

    // integer PageRank: the same fixed-point trajectory unrolled as one
    // chained CTE per round (recursive CTEs can't aggregate in the
    // recursive term). CAST(s AS BIGINT) because sum(BIGINT) is HUGEINT
    // in DuckDB and would otherwise poison the damping arithmetic's type.
    // edges/deg/nodes/nn are MATERIALIZED: every round references them,
    // and DuckDB's default inlining re-expands each reference all the way
    // down to the MinHash pair self-join — ~30 live copies of that join
    // in one plan (observed pinning the entire 60 GiB memory budget at
    // the ×10 replica). The r_k chain itself stays unmaterialized: each
    // round is referenced exactly once, so it pipelines without
    // retaining all rounds.
    "graph_pagerank" -> {
      import graft.ops.PageRank._
      val rounds = (1 to Iters).map { k =>
        s"""r$k AS (SELECT n.doc_id,
           |  (($BaseNum * ($TotalMass // nn.n) + $DampNum * coalesce(CAST(c.s AS BIGINT), 0)) // 100) AS rank
           |  FROM nodes n CROSS JOIN nn LEFT JOIN (
           |    SELECT e.dst AS doc_id, sum(r.rank // d.deg) AS s
           |    FROM edges e JOIN r${k - 1} r ON e.src = r.doc_id
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) c ON c.doc_id = n.doc_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minhashPairsCte,
         |good AS (SELECT doc_a, doc_b FROM pairs
         |  WHERE jaccard >= ${graft.ops.Dedup.JaccardThreshold}),
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM good
         |  UNION ALL SELECT doc_b, doc_a FROM good),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS doc_id FROM edges),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT doc_id, ($TotalMass // nn.n) AS rank
         |  FROM nodes CROSS JOIN nn),
         |$rounds
         |SELECT r.doc_id, r.rank, d.deg
         |FROM r$Iters r JOIN deg d ON d.src = r.doc_id
         |ORDER BY r.rank DESC, r.doc_id""".stripMargin
    },

    // Multi-source BFS: the recursive walk enumerates every (node, dist)
    // reachable within MaxHops; min(dist) per node is the BFS distance —
    // the engine's frontier iteration must reproduce it exactly.
    "graph_dist" ->
      s"""WITH RECURSIVE $minhashPairsCte,
         |good AS (SELECT doc_a, doc_b FROM pairs
         |  WHERE jaccard >= ${graft.ops.Dedup.JaccardThreshold}),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM good
         |  UNION ALL SELECT doc_b, doc_a FROM good),
         |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
         |walk(doc_id, dist) AS (
         |  SELECT doc_id, 0 FROM nodes
         |  WHERE doc_id % ${graft.ops.Bfs.SeedMod} = 0
         |  UNION
         |  SELECT e.dst, w.dist + 1 FROM walk w JOIN edges e
         |  ON e.src = w.doc_id WHERE w.dist < ${graft.ops.Bfs.MaxHops})
         |SELECT doc_id, CAST(min(dist) AS INT) AS dist FROM walk
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Markov transition matrix: micro-unit probabilities via exact integer
    // floor division on both engines (`div` / `//`)
    "q_transitions" ->
      """WITH seq AS (SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS next_type FROM events),
        |c AS (SELECT event_type AS src, next_type AS dst, count(*) AS n
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT src, dst, n,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY src) AS BIGINT)
        |    AS p_micro
        |FROM c ORDER BY src, dst""".stripMargin,

    // Last-touch attribution: IGNORE NULLS carry over [unbounded, -1] —
    // identical window semantics both engines, revenue in micro-units
    "q_attribution" ->
      """WITH t AS (SELECT user_id, event_id, event_type, value,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN event_id END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_id,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type
        |  FROM events)
        |SELECT event_id AS purchase_id, user_id, touch_id, touch_type,
        |  CAST(round(value * 1e6, 0) AS BIGINT) AS revenue_micro
        |FROM t WHERE event_type = 'purchase' AND touch_id IS NOT NULL
        |ORDER BY purchase_id""".stripMargin,

    // Merkle-segment checksums: bit_xor folds commute, so the checksum is
    // partition-invariant by algebra; 48-bit hashes xor without overflow
    "q_checksum" ->
      s"""SELECT CAST(doc_id % ${graft.ops.DataQuality.ChecksumSegments} AS INT)
         |  AS segment, count(*) AS n_rows,
         |  bit_xor(${SharedHash.duck48(
              "concat_ws('~|~', CAST(doc_id AS VARCHAR), text, lang, " +
                "source, CAST(n_chars AS VARCHAR))")}) AS checksum
         |FROM documents GROUP BY 1 ORDER BY segment""".stripMargin,

    // The multimodal STUB decode is a deterministic nibble histogram of
    // the (ASCII) payload bytes — SQL-expressible after all, so the whole
    // mapPartitions decode plumbing is hash-pinned: single-precision
    // fractions (REAL division, exactly Scala's Float math), a
    // double-promoted left-fold feature sum, first-match argmax. The
    // genuinely environment-bound branch (real ImageIO decode) stays
    // spec-covered with real PNG fixtures; the harness's
    // octet-stream payloads all take the stub path by design.
    // Per-bin counts come from regexp char-class strips, NOT a
    // materialized per-character codes list: count(bin j) = chars removed
    // by deleting [\x{16j}-\x{16j+15}]. Identical integers → identical
    // REAL fractions (the engine's Float path), and the oracle stays
    // streaming-friendly at replica scale — the old list_transform form
    // materialized a length(text)-element list per document and OOM'd
    // DuckDB at the ×10 sweep (byte≡char holds: the corpus is ASCII, the
    // same assumption the engine's text→binary cast and the previous
    // ascii()-per-char form already made).
    // the engine path derives EVERY field by parsing the MP4 bytes it
    // synthesized (ISO BMFF box walk, both mvhd versions); the oracle
    // recomputes the synthesizer's arithmetic directly from the columns,
    // so a hash match proves parse ∘ synthesize = id on real wire bytes.
    // mdat_bytes mirrors what the synthesizer actually PACKS — the UTF-8
    // bytes of text (octet_length ∘ encode), NOT the n_chars column: the
    // two can drift (the pre-fix ScaleUp replica broke the invariant at
    // copy 10+), and duration deliberately stays on n_chars because the
    // engine builds the mvhd ticks from that column too
    "mm_video_meta" ->
      """SELECT doc_id AS asset_id, CAST(600 AS BIGINT) AS timescale,
        |  n_chars * 10 AS duration,
        |  (n_chars * 10 * 1000) // 600 AS duration_ms,
        |  320 + (doc_id % 8) * 16 AS width,
        |  240 + (doc_id % 5) * 12 AS height,
        |  CAST(3 AS BIGINT) AS n_top_boxes,
        |  octet_length(encode(text)) AS mdat_bytes
        |FROM documents ORDER BY asset_id""".stripMargin,

    // stbl sample-table analytics: the engine synthesizes a full
    // trak(tkhd, mdia(mdhd, minf(stbl(stsz, stss, stts)))) track and
    // parses the wire bytes back; the oracle recomputes the synthesizer's
    // integer arithmetic directly from the columns (sample count 1..29,
    // affine per-sample sizes expanded by a bounded range join, keyframe
    // stride, two-run stts) — a hash match proves the stbl parser exactly
    // inverts the stbl writer, box for box. All ratios BIGINT div.
    "mm_video_samples" ->
      """WITH base AS (
        |  SELECT doc_id, 1 + (n_chars % 29) AS n, 1 + (doc_id % 4) AS k,
        |         400 + (doc_id % 100) AS d1, 500 + (doc_id % 50) AS d2
        |  FROM documents),
        |sz AS (
        |  SELECT b.doc_id, 100 + (b.doc_id*31 + t.i*7) % 50 AS s
        |  FROM base b JOIN range(0, 29) t(i) ON t.i < b.n),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |         CAST(sum(s) AS BIGINT) AS sample_bytes,
        |         CAST(min(s) AS BIGINT) AS min_sample,
        |         CAST(max(s) AS BIGINT) AS max_sample
        |  FROM sz GROUP BY doc_id)
        |SELECT b.doc_id AS asset_id, a.n_samples, a.sample_bytes,
        |  a.min_sample, a.max_sample,
        |  ((b.n - 1) // b.k) + 1 AS n_keyframes,
        |  ((((b.n - 1) // b.k) + 1) * 1000000) // b.n AS keyframe_ppm,
        |  CAST(CASE WHEN b.n - ((b.n + 1) // 2) > 0 THEN 2 ELSE 1 END
        |    AS BIGINT) AS stts_entries,
        |  ((b.n + 1) // 2) * b.d1 + (b.n - ((b.n + 1) // 2)) * b.d2
        |    AS track_ticks
        |FROM base b JOIN agg a USING (doc_id) ORDER BY asset_id""".stripMargin,

    // REAL frame decode through a png-coded MP4 track: the engine
    // PNG-encodes deterministic pixels, muxes them, and derives every
    // output field by demuxing + decoding the bytes back; the oracle
    // recomputes the pixel formula directly (PNG is lossless, so the
    // integers agree exactly). Bounded range joins expand (frame, x, y);
    // the per-frame luma sums aggregate before the per-asset rollup.
    "mm_video_frames" ->
      """WITH base AS (
        |  SELECT doc_id, 1 + (doc_id % 4) AS nf,
        |         4 + (doc_id % 3) * 4 AS w, 4 AS h
        |  FROM documents),
        |fs AS (
        |  SELECT b.doc_id, f.i AS f,
        |         SUM((b.doc_id*31 + f.i*17 + x.i*7 + y.i*13) % 256) AS s
        |  FROM base b
        |  JOIN range(0, 4) f(i) ON f.i < b.nf
        |  JOIN range(0, 12) x(i) ON x.i < b.w
        |  JOIN range(0, 4) y(i) ON y.i < b.h
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, SUM(s) AS luma_sum, MAX(s) AS mx
        |  FROM fs GROUP BY doc_id)
        |SELECT b.doc_id AS asset_id, 'png' AS codec,
        |  CAST(b.nf AS BIGINT) AS n_frames,
        |  CAST(b.w AS BIGINT) AS frame_width,
        |  CAST(b.h AS BIGINT) AS frame_height,
        |  CAST(a.luma_sum AS BIGINT) AS luma_sum,
        |  CAST((a.luma_sum * 1000000) // (b.nf * b.w * b.h) AS BIGINT)
        |    AS luma_mean_ppm,
        |  CAST(a.mx AS BIGINT) AS max_frame_sum
        |FROM base b JOIN agg a USING (doc_id) ORDER BY asset_id""".stripMargin,

    "mm_features" -> {
      val fracs = (0 until 16).map(j =>
        s"CAST(CAST(${mmBinCount(j)} AS REAL)" +
          s" / CAST(n AS REAL) AS REAL) AS f$j").mkString(", ")
      val chain = (1 until 16)
        .foldLeft("CAST(f0 AS DOUBLE)")((acc, j) => s"($acc + f$j)")
      val lst = (0 until 16).map(j => s"f$j").mkString("[", ",", "]")
      s"""WITH c AS (SELECT doc_id AS asset_id, n_chars AS n_bytes,
         |  length(text) AS n, text AS t FROM documents),
         |f AS (SELECT asset_id, n_bytes, n, $fracs FROM c)
         |SELECT asset_id, n_bytes,
         |  round($chain, 4) AS feature_sum,
         |  CAST(list_position($lst, list_max($lst)) AS BIGINT) AS argmax_bin
         |FROM f ORDER BY asset_id""".stripMargin
    },

    // Asset ANN over the stub features: same histogram CTE promoted to
    // DOUBLE vectors, then the standard cosine chain — mm search is now
    // hash-checked end to end (features AND ranking). n0 is MATERIALIZED:
    // it feeds both self-join sides, and re-expanding it would re-run the
    // 16 regexp strips over the whole corpus per side.
    "mm_ann" -> {
      val fracs = (0 until 16).map(j =>
        s"CAST(CAST(${mmBinCount(j)} AS REAL)" +
          s" / CAST(n AS REAL) AS REAL) AS f$j").mkString(", ")
      val lst = (0 until 16).map(j => s"CAST(f$j AS DOUBLE)")
        .mkString("[", ",", "]")
      def dot(a: String, b: String) =
        (1 to 16).map(i => s"$a[$i]*$b[$i]").mkString("(", " + ", ")")
      s"""WITH c0 AS (SELECT doc_id AS asset_id, length(text) AS n,
         |  text AS t FROM documents),
         |f AS (SELECT asset_id, $fracs FROM c0),
         |e0 AS (SELECT asset_id, $lst AS e FROM f),
         |n0 AS MATERIALIZED (SELECT asset_id, e, ${dot("e", "e")} AS nrm FROM e0
         |  WHERE ${dot("e", "e")} > 0),
         |p AS (SELECT q.asset_id AS q_id, c.asset_id AS c_id,
         |  round(${dot("q.e", "c.e")} / (sqrt(q.nrm) * sqrt(c.nrm)), 6)
         |    AS sim
         |  FROM n0 q JOIN n0 c ON q.asset_id < 3 AND q.asset_id <> c.asset_id),
         |r AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (
         |  PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS INT) AS rnk
         |  FROM p)
         |SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin
    },

    "mm_phash" ->
      s"""WITH ${mmPhashCtes(None)}
         |SELECT asset_id, k AS phash FROM sk ORDER BY asset_id""".stripMargin,
    "mm_dup_pairs" -> mmDupPairsSql(None),
    // composed from the two members above like the other recall
    // dashboards; both sides share the bounded asset_id < 300 domain
    "mm_dup_recall" -> qualityReportOracle(mmDupExactSql(300L),
      Seq("phash_probe" -> mmDupPairsSql(Some(300L))), "id_a", "id_b"),

    // bipartite multimodal intake triage: same residue-class split as
    // dedup_incremental / emb_dup_intake, perceptual-hash probe gate
    // (delta side materializes the exact-or-±1-one-bin neighborhood),
    // exact L1 verify, per-delta verdict. `b` is referenced four times
    // (probe, candidate right side, verify ×2, report) — MATERIALIZED
    // for the same inline-explosion reason as the emb intake's CTE.
    "mm_dup_intake" -> {
      import graft.ops.Multimodal.MmDupL1Eps
      s"""WITH ${mmPhashCtes(None)},
         |b AS MATERIALIZED (SELECT asset_id, e, lv, k,
         |  (${SharedHash.duck48("CAST(asset_id AS VARCHAR)")} % 10) = 9
         |    AS is_inc FROM sk),
         |pr AS (SELECT asset_id AS inc_id, unnest($mmProbeList) AS pk
         |  FROM b WHERE is_inc),
         |cd AS (SELECT pr.inc_id, c.asset_id AS ex_id
         |  FROM pr JOIN b c ON pr.pk = c.k AND NOT c.is_inc
         |  GROUP BY 1, 2),
         |near AS (SELECT inc_id, CAST(count(*) AS BIGINT) AS n_near FROM cd
         |  JOIN b x ON x.asset_id = cd.inc_id
         |  JOIN b y ON y.asset_id = cd.ex_id
         |  WHERE ${mmL1Chain("x.e", "y.e")} <= $MmDupL1Eps
         |  GROUP BY inc_id)
         |SELECT t.asset_id, CAST(COALESCE(near.n_near, 0) AS BIGINT) AS n_near,
         |  CASE WHEN COALESCE(near.n_near, 0) > 0 THEN 'near'
         |       ELSE 'novel' END AS verdict
         |FROM b t LEFT JOIN near ON near.inc_id = t.asset_id
         |WHERE t.is_inc ORDER BY t.asset_id""".stripMargin
    },

    // phash pair-family pricing scout: key histogram + probe-vs-histogram
    // aggregates — candidates are PRICED, never materialized
    "mm_dup_bound" -> sigBoundSql(mmPhashCtes(None), "sk"),
    // the audio twin (r15 verdict #3): same scout body over the audio
    // signature frame — the engine shares Multimodal.sigDupBound, the
    // oracle shares sigBoundSql
    "mm_audio_bound" -> sigBoundSql(audioSigCtes(None), "ak"),

    // audio fingerprint family: window statistics replayed from the text
    // (the synthesis byte map is known; hash match proves decode∘mux=id)
    "mm_audio_sig" ->
      s"""WITH ${audioSigCtes(None)}
         |SELECT asset_id, k AS audio_fp,
         |  g[1] AS energy0_permille, g[9] AS cross0_permille
         |FROM ak ORDER BY asset_id""".stripMargin,
    "mm_audio_pairs" -> audioDupPairsSql(None),
    // the anchored family (r15 verdict #4): onset-anchored window grid,
    // same byte-based replay — signature + pairs each fully hash-oracled
    "mm_audio_sig_anchored" ->
      s"""WITH ${audioSigAnchoredCtes(None)}
         |SELECT asset_id, CAST(onset AS INT) AS onset, k AS audio_fp,
         |  g[1] AS energy0_permille, g[9] AS cross0_permille
         |FROM ak ORDER BY asset_id""".stripMargin,
    "mm_audio_pairs_anchored" -> audioDupPairsAnchoredSql(None),
    // both variants graded against their OWN exact scan, one dashboard:
    // each report is a self-contained WITH statement, unioned as
    // subqueries (aligned and anchored signature spaces are different
    // ground truths — grading one probe against the other's truth would
    // conflate grid choice with probe quality)
    "mm_audio_recall" ->
      s"""SELECT * FROM (
         |${qualityReportOracle(audioDupExactSql(300L),
               Seq("wav_fp_probe" -> audioDupPairsSql(Some(300L))),
               "id_a", "id_b")}
         |) UNION ALL SELECT * FROM (
         |${qualityReportOracle(audioDupAnchoredExactSql(300L),
               Seq("wav_fp_probe_anchored" ->
                 audioDupPairsAnchoredSql(Some(300L))),
               "id_a", "id_b")}
         |) ORDER BY variant""".stripMargin,
    "mm_audio_intake" -> {
      import graft.ops.AudioDedup.AudioL1Eps
      s"""WITH ${audioSigCtes(None)},
         |ab AS MATERIALIZED (SELECT asset_id, g, lv, k,
         |  (${SharedHash.duck48("CAST(asset_id AS VARCHAR)")} % 10) = 9
         |    AS is_inc FROM ak),
         |apr AS (SELECT asset_id AS inc_id, unnest($mmProbeList) AS pk
         |  FROM ab WHERE is_inc),
         |acd AS (SELECT apr.inc_id, c.asset_id AS ex_id
         |  FROM apr JOIN ab c ON apr.pk = c.k AND NOT c.is_inc
         |  GROUP BY 1, 2),
         |anear AS (SELECT inc_id, CAST(count(*) AS BIGINT) AS n_near
         |  FROM acd
         |  JOIN ab x ON x.asset_id = acd.inc_id
         |  JOIN ab y ON y.asset_id = acd.ex_id
         |  WHERE ${audioL1Chain("x.g", "y.g")} <= $AudioL1Eps
         |  GROUP BY inc_id)
         |SELECT t.asset_id,
         |  CAST(COALESCE(anear.n_near, 0) AS BIGINT) AS n_near,
         |  CASE WHEN COALESCE(anear.n_near, 0) > 0 THEN 'near'
         |       ELSE 'novel' END AS verdict
         |FROM ab t LEFT JOIN anear ON anear.inc_id = t.asset_id
         |WHERE t.is_inc ORDER BY t.asset_id""".stripMargin
    },

    // Incremental view maintenance: the oracle recomputes the aggregate
    // from scratch; the engine merges stored view + delta partials. The
    // micro-unit integer sum is what makes the two orders identical.
    "q_incr_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 1e6, 0) AS BIGINT)) AS BIGINT)
        |    AS sum_micro
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // strictly-ordered funnel: same successive conditional-min staging
    // Count-Min / HLL: the sketch states commute (integer sums / register
    // maxima over the SharedHash family), so the oracle recomputes them as
    // plain GROUP BYs and runs the identical estimator text — full hash
    // checks for sketch OUTPUTS (the built-in Murmur sketches stay rows-only)
    "text_count_min" -> graft.ops.Sketches.countMinOracle,
    "q_hll_distinct" -> graft.ops.Sketches.hllOracle,
    "q_hll_rollup" -> graft.ops.Sketches.hllRollupOracle,
    "q_quantile_sketch" -> graft.ops.Sketches.quantileSketchOracle(),
    // rollup path must EQUAL the direct global sample — the oracle is the
    // direct computation, so the hash match PROVES sketch mergeability
    "q_quantile_rollup" -> graft.ops.Sketches.quantileSketchOracle(),

    // source-level tf-idf cosine redundancy matrix: same integral
    // milli-unit weighting/dot/norm chain as dedup_lexical_cosine, at
    // source granularity with source-frequency idf
    "dedup_source_cosine" ->
      """WITH tf AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |    FROM documents),
        |tfc AS (SELECT source, term, count(*) AS tf FROM tf GROUP BY 1, 2),
        |sf AS (SELECT term, count(*) AS sf FROM tfc GROUP BY 1),
        |ns AS (SELECT count(DISTINCT source) AS n_src FROM documents),
        |wu AS (SELECT source, term,
        |  CAST(floor(tf * ln((n_src + 1) / (sf + 1)) * 1000) AS BIGINT) AS w
        |  FROM tfc JOIN sf USING (term) CROSS JOIN ns),
        |nrm AS (SELECT source, CAST(sum(w * w) AS BIGINT) AS nrm
        |  FROM wu GROUP BY 1),
        |d AS (SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(sum(a.w * b.w) AS BIGINT) AS dot
        |  FROM wu a JOIN wu b ON a.term = b.term AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b,
        |  round(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 6) AS cosine
        |FROM d JOIN nrm na ON na.source = d.src_a
        |JOIN nrm nb ON nb.source = d.src_b
        |WHERE na.nrm > 0 AND nb.nrm > 0
        |ORDER BY src_a, src_b""".stripMargin,

    // stupid-backoff trigram LM: counts replayed from the same hash-split
    // train slice; the CASE's alpha literals are the Scala-computed
    // doubles (0.4*0.4 != 0.16 in IEEE — Double.toString round-trips)
    "text_lm_backoff" ->
      s"""WITH $lmBackoffCtes
         |SELECT doc_id, count(*) AS n_trigrams, CAST(sum(bo) AS BIGINT) AS n_backoff,
         |  round(CAST(sum(w_u) AS BIGINT) / (count(*) * 1000000.0), 4) AS lm_score
         |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // CCNet terciles: the backoff-LM chain nests VERBATIM (same `w` CTE as
    // text_lm_backoff), language vote from the langid profiles over the
    // chain's own tok frame, thresholds replayed from the identical
    // bottom-k-by-hash sample (ORDER BY hash, doc_id — TopKBy's tie rule)
    // and ceil(q·n) order statistics, bucket edges compared on the same
    // round(_, 4) doubles both engines already hash-match in text_lm_backoff
    "text_ppl_buckets" -> {
      def hits(lang: String) =
        s"len(list_filter(toks, t -> t IN (${inList(TextAnalysis.LangProfiles(lang))})))"
      val k = graft.ops.TermScoring.PplSampleK
      s"""WITH $lmBackoffCtes,
         |sc AS (SELECT doc_id,
         |  round(CAST(sum(w_u) AS BIGINT) / (count(*) * 1000000.0), 4) AS lm_score
         |  FROM w GROUP BY doc_id),
         |lgx AS (SELECT doc_id,
         |  CASE WHEN ${hits("es")} > ${hits("en")} AND ${hits("es")} > ${hits("fr")} THEN 'es'
         |       WHEN ${hits("fr")} > ${hits("en")} THEN 'fr' ELSE 'en' END AS lang
         |  FROM tok),
         |d AS (SELECT sc.doc_id, sc.lm_score, lgx.lang
         |  FROM sc JOIN lgx USING (doc_id)),
         |pk AS (SELECT lang, doc_id FROM (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY
         |      ${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS r
         |  FROM d) WHERE r <= $k),
         |smp AS (SELECT d.lang, d.lm_score,
         |  row_number() OVER (PARTITION BY d.lang
         |    ORDER BY d.lm_score ASC, d.doc_id ASC) AS r,
         |  count(*) OVER (PARTITION BY d.lang) AS n
         |  FROM d JOIN pk USING (lang, doc_id)),
         |th AS (SELECT lang,
         |  max(CASE WHEN r = ceil(n / 3.0) THEN lm_score END) AS t_lo,
         |  max(CASE WHEN r = ceil(n * 2 / 3.0) THEN lm_score END) AS t_hi
         |  FROM smp GROUP BY lang)
         |SELECT d.doc_id, d.lang, d.lm_score,
         |  CASE WHEN th.t_lo IS NULL THEN 'unscored'
         |       WHEN d.lm_score <= th.t_lo THEN 'tail'
         |       WHEN d.lm_score <= th.t_hi THEN 'middle'
         |       ELSE 'head' END AS bucket
         |FROM d LEFT JOIN th USING (lang) ORDER BY d.doc_id""".stripMargin
    },

    // intake twin: thresholds sampled from STANDING docs only (the
    // frozen-gate contract — a delta doc cannot move the bucket edges),
    // verdicts emitted for the delta split only; shared verbatim by the
    // persisted-artifact probe (integer count tables round-trip parquet
    // exactly, so the frozen model scores identically to the re-derived one)
    "text_ppl_intake" -> {
      def hits(lang: String) =
        s"len(list_filter(toks, t -> t IN (${inList(TextAnalysis.LangProfiles(lang))})))"
      val k = graft.ops.TermScoring.PplSampleK
      s"""WITH $lmBackoffCtes,
         |sc AS (SELECT doc_id,
         |  round(CAST(sum(w_u) AS BIGINT) / (count(*) * 1000000.0), 4) AS lm_score
         |  FROM w GROUP BY doc_id),
         |lgx AS (SELECT doc_id,
         |  CASE WHEN ${hits("es")} > ${hits("en")} AND ${hits("es")} > ${hits("fr")} THEN 'es'
         |       WHEN ${hits("fr")} > ${hits("en")} THEN 'fr' ELSE 'en' END AS lang
         |  FROM tok),
         |d AS (SELECT sc.doc_id, sc.lm_score, lgx.lang,
         |  (${SharedHash.duck48("CAST(sc.doc_id AS VARCHAR)")} % 10) = 9 AS is_delta
         |  FROM sc JOIN lgx USING (doc_id)),
         |pk AS (SELECT lang, doc_id FROM (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY
         |      ${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS r
         |  FROM d WHERE NOT is_delta) WHERE r <= $k),
         |smp AS (SELECT d.lang, d.lm_score,
         |  row_number() OVER (PARTITION BY d.lang
         |    ORDER BY d.lm_score ASC, d.doc_id ASC) AS r,
         |  count(*) OVER (PARTITION BY d.lang) AS n
         |  FROM d JOIN pk USING (lang, doc_id)),
         |th AS (SELECT lang,
         |  max(CASE WHEN r = ceil(n / 3.0) THEN lm_score END) AS t_lo,
         |  max(CASE WHEN r = ceil(n * 2 / 3.0) THEN lm_score END) AS t_hi
         |  FROM smp GROUP BY lang)
         |SELECT d.doc_id, d.lang, d.lm_score,
         |  CASE WHEN th.t_lo IS NULL THEN 'unscored'
         |       WHEN d.lm_score <= th.t_lo THEN 'tail'
         |       WHEN d.lm_score <= th.t_hi THEN 'middle'
         |       ELSE 'head' END AS bucket
         |FROM d LEFT JOIN th USING (lang) WHERE d.is_delta
         |ORDER BY d.doc_id""".stripMargin
    },

    // BPE training replayed as one chained CTE per merge round (the
    // PageRank-oracle pattern): pair-count → fully-tie-broken argmax →
    // one-pass replace, all in exact integers. `replace` has identical
    // left-to-right non-overlapping semantics in Spark and DuckDB — that
    // IS the merge step, so the trajectories agree symbol for symbol.
    "text_bpe_merges" -> bpeMergesOracle,
    "text_bpe_vocab" -> bpeVocabOracle,

    "q_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
        |t1 AS (SELECT user_id, min(ts) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM t1
        |UNION ALL SELECT '2_click', count(*) FROM t2
        |UNION ALL SELECT '3_purchase', count(*) FROM t3
        |ORDER BY stage""".stripMargin
  )

  // --- multimodal stub-histogram fragment ----------------------------------

  /** Count of characters of `t` in stub-histogram bin `j` (codepoints
    * 16j..16j+15) as a char-class strip — no per-character list. RE2 hex
    * escapes pass through DuckDB string literals unprocessed. */
  private def mmBinCount(j: Int): String = {
    val lo = f"${16 * j}%02x"
    val hi = f"${16 * j + 15}%02x"
    s"(length(t) - length(regexp_replace(t, '[\\x$lo-\\x$hi]', '', 'g')))"
  }

  /** CTE chain ending in `sk` (asset_id, e DOUBLE[16], lv quantized
    * levels, k packed 48-char perceptual key) — the shared head of the
    * mm_phash / mm_dup_pairs / mm_dup_recall oracles, mirroring
    * [[graft.ops.Multimodal.phashFrame]] term-for-term (floor(x·256) is
    * exact: ×256 only shifts the exponent). `sig` is MATERIALIZED: the
    * pair oracles reference it from both join sides and the probe leg. */
  /** `p` prefixes every CTE name so the chain can be embedded inside an
    * oracle that already uses the bare names (the front door nests this
    * as its gate-5 leg next to the band/LM/DSIR CTEs). */
  private def mmPhashCtes(maxId: Option[Long], p: String = ""): String = {
    import graft.ops.Multimodal.PhashQuant
    val fracs = (0 until 16).map(j =>
      s"CAST(CAST(${mmBinCount(j)} AS REAL)" +
        s" / CAST(n AS REAL) AS REAL) AS f$j").mkString(", ")
    val lst = (0 until 16).map(j => s"CAST(f$j AS DOUBLE)")
      .mkString("[", ",", "]")
    val dom = maxId.map(m => s" WHERE doc_id < $m").getOrElse("")
    s"""${p}c0 AS (SELECT doc_id AS asset_id, length(text) AS n,
       |  text AS t FROM documents$dom),
       |${p}f AS (SELECT asset_id, $fracs FROM ${p}c0),
       |${p}e0 AS (SELECT asset_id, $lst AS e FROM ${p}f),
       |${p}sig AS MATERIALIZED (SELECT asset_id, e,
       |  list_transform(e, x ->
       |    least(${PhashQuant - 1}, CAST(floor(x * $PhashQuant) AS INT)))
       |    AS lv FROM ${p}e0),
       |${p}sk AS (SELECT asset_id, e, lv,
       |  array_to_string(list_transform(lv, l ->
       |    lpad(CAST(l AS VARCHAR), 3, '0')), '') AS k FROM ${p}sig)"""
      .stripMargin
  }

  /** abs-difference L1 chain over two DOUBLE[16] columns (left-assoc,
    * matching the engine's zip_with/aggregate fold). */
  private def mmL1Chain(a: String, b: String): String =
    (1 to 16).map(i => s"abs($a[$i] - $b[$i])").mkString("(", " + ", ")")

  /** Probe-key list over sk's (lv, k): the exact key plus every in-range
    * one-bin ±1-level variant — [[graft.ops.Multimodal]]'s MmProbeExpr
    * restated in DuckDB list functions; shared by the pair and intake
    * oracles. */
  private def mmProbeList: String =
    """list_concat([k], flatten(list_transform(range(16), b ->
      |    list_transform(
      |      list_filter([lv[b + 1] - 1, lv[b + 1] + 1],
      |        v -> v >= 0 AND v <= 255),
      |      v -> concat(substring(k, 1, CAST(b * 3 AS INT)),
      |        lpad(CAST(v AS VARCHAR), 3, '0'),
      |        substr(k, CAST(b * 3 + 4 AS INT)))))))""".stripMargin

  /** mm_dup_pairs oracle: exact-or-one-bin-off-by-one perceptual-key
    * candidates (the probe neighborhood stated explicitly, joined on the
    * key) verified by the exact L1 threshold — the engine's pipeline
    * replayed clause for clause. */
  private def mmDupPairsSql(maxId: Option[Long]): String = {
    import graft.ops.Multimodal.MmDupL1Eps
    s"""WITH ${mmPhashCtes(maxId)},
       |pr AS (SELECT asset_id AS id_a,
       |  unnest($mmProbeList) AS pk FROM sk),
       |cd AS (SELECT pr.id_a, b.asset_id AS id_b
       |  FROM pr JOIN sk b ON pr.pk = b.k AND pr.id_a < b.asset_id
       |  GROUP BY 1, 2)
       |SELECT c.id_a, c.id_b, round(${mmL1Chain("a.e", "b.e")}, 6) AS l1
       |FROM cd c JOIN sk a ON a.asset_id = c.id_a
       |JOIN sk b ON b.asset_id = c.id_b
       |WHERE ${mmL1Chain("a.e", "b.e")} <= $MmDupL1Eps
       |ORDER BY id_a, id_b""".stripMargin
  }

  // --- audio fingerprint fragments ------------------------------------------

  /** CTE chain ending in `{p}ak` (asset_id, g BIGINT[16] permille window
    * stats, lv INT[16] coarse levels, k packed 48-char key) — the shared
    * head of the mm_audio_* oracles, replaying
    * [[graft.ops.AudioDedup.audioSigOf]] term for term. The synthesized
    * WAV's PCM byte map is known (sample byte = UTF-8 byte +
    * [[graft.ops.AudioDedup.WavByteBias]], decoded amplitude =
    * ((b + 32) mod 256) − 128 after the container round-trip), so the
    * oracle recomputes every window statistic directly from the text —
    * the hash match PROVES the engine's mux → javax.sound decode is the
    * identity on samples, the same contract as the PNG video-frame
    * oracle. BYTE-based like the engine (r15 ADVICE: the engine builds
    * PCM from `text.getBytes("UTF-8")`, so a character-positioned replay
    * diverges on any non-ASCII text in both sample values and window
    * alignment): positions iterate the hex dump of `encode(text)` —
    * byte i is the i-th hex pair — and the sample cap counts BYTES. For
    * pure-ASCII corpora this reduces to the former ord(char)−96 replay
    * (verified: identical g/lv on the harness corpus); on non-ASCII it
    * now matches the engine where the char replay did not (validated
    * against a direct byte-map simulation on UTF-8 fixtures). All
    * arithmetic is integer (floor division both engines). */
  private def audioSigCtes(maxId: Option[Long], p: String = ""): String = {
    import graft.ops.AudioDedup.{AudioSampleCap, AudioWindow}
    s"""${audioBytesCte(maxId, p, AudioSampleCap)},
       |${p}as0 AS (SELECT asset_id, r.i AS i,
       |  CAST((r.i - 1) // $AudioWindow AS INT) AS w, ${audioAmpExpr("r.i")} AS a
       |  FROM ${p}ac0 JOIN range(1, ${AudioSampleCap + 1}) r(i) ON r.i <= n),
       |${audioStatsTail(p)},
       |${p}ak AS MATERIALIZED (SELECT asset_id, g, lv,
       |  array_to_string(list_transform(lv, l ->
       |    lpad(CAST(l AS VARCHAR), 3, '0')), '') AS k FROM ${p}asig)"""
      .stripMargin
  }

  /** The ANCHORED signature chain ([[graft.ops.AudioDedup
    * .anchoredWindowStats]]'s oracle twin): same byte-based amplitudes,
    * but the window grid starts at the energy onset — the first position
    * i ≤ AudioAnchorScan with |a| ≥ AudioOnsetAbsMin (0 if none). The
    * raw positions cover AnchorScan + SampleCap bytes so the anchored
    * window [onset, onset + cap) is always fully materialized; the
    * stats tail is shared verbatim with the aligned chain. `{p}ak`
    * carries the onset. */
  private def audioSigAnchoredCtes(maxId: Option[Long],
      p: String = ""): String = {
    import graft.ops.AudioDedup.{AudioAnchorScan, AudioOnsetAbsMin,
      AudioSampleCap, AudioWindow}
    val raw = AudioAnchorScan + AudioSampleCap
    s"""${audioBytesCte(maxId, p, raw)},
       |${p}as0raw AS (SELECT asset_id, r.i AS i, ${audioAmpExpr("r.i")} AS a
       |  FROM ${p}ac0 JOIN range(1, ${raw + 1}) r(i) ON r.i <= n),
       |${p}aon AS (SELECT asset_id,
       |  COALESCE(min(CASE WHEN abs(a) >= $AudioOnsetAbsMin
       |    AND i <= $AudioAnchorScan THEN i END) - 1, 0) AS onset
       |  FROM ${p}as0raw GROUP BY asset_id),
       |${p}as0 AS (SELECT s.asset_id, s.i - o.onset AS i,
       |  CAST((s.i - o.onset - 1) // $AudioWindow AS INT) AS w, s.a
       |  FROM ${p}as0raw s JOIN ${p}aon o USING (asset_id)
       |  WHERE s.i > o.onset AND s.i <= o.onset + $AudioSampleCap),
       |${audioStatsTail(p)},
       |${p}ak AS MATERIALIZED (SELECT s.asset_id, o.onset, g, lv,
       |  array_to_string(list_transform(lv, l ->
       |    lpad(CAST(l AS VARCHAR), 3, '0')), '') AS k
       |  FROM ${p}asig s JOIN ${p}aon o USING (asset_id))"""
      .stripMargin
  }

  /** `{p}ac0` (asset_id, hx hex dump of the first `cap` UTF-8 bytes,
    * n = byte count ≤ cap). length >= 1 mirrors the engine: a
    * zero-sample WAV does not decode (javax.sound yields no frames), so
    * the asset has no signature row. */
  private def audioBytesCte(maxId: Option[Long], p: String,
      cap: Int): String = {
    val dom = maxId.map(m => s" AND doc_id < $m").getOrElse("")
    s"""${p}ac0 AS (SELECT doc_id AS asset_id,
       |  substr(hex(encode(text)), 1, ${2 * cap}) AS hx,
       |  least(octet_length(encode(text)), $cap) AS n
       |  FROM documents WHERE length(text) >= 1$dom)""".stripMargin
  }

  /** Amplitude of byte `i` (1-based) from the hex dump: unsigned value
    * via the two hex digits, then ((b + bias) mod 256) − 128 — the
    * engine's synthesis ∘ decode byte map. */
  private def audioAmpExpr(i: String): String = {
    import graft.ops.AudioDedup.WavByteBias
    s"""(((strpos('0123456789ABCDEF', substr(hx, CAST(2*$i-1 AS INT), 1)) - 1) * 16
       |    + (strpos('0123456789ABCDEF', substr(hx, CAST(2*$i AS INT), 1)) - 1)
       |    + $WavByteBias) % 256) - 128""".stripMargin
  }

  /** The window-statistics tail shared by the aligned and anchored
    * chains: `{p}as0` (asset_id, i, w, a) → `{p}asig` (asset_id, g, lv).
    * Positions are window-grid-relative, so the tail never needs to know
    * how the grid's origin was chosen. */
  private def audioStatsTail(p: String): String = {
    import graft.ops.AudioDedup.AudioWindows
    s"""${p}ax AS (SELECT asset_id, w, i, abs(a) AS ab, (a >= 0) AS nn,
       |  lag(a >= 0) OVER (PARTITION BY asset_id, w ORDER BY i) AS pnn
       |  FROM ${p}as0),
       |${p}aws AS (SELECT asset_id, w, CAST(count(*) AS BIGINT) AS len_w,
       |  CAST(sum(ab) AS BIGINT) AS sumabs,
       |  CAST(sum(CASE WHEN pnn IS NOT NULL AND nn <> pnn THEN 1 ELSE 0 END)
       |    AS BIGINT) AS cr
       |  FROM ${p}ax GROUP BY 1, 2),
       |${p}awf AS (SELECT c.asset_id, CAST(wi.i AS INT) AS w,
       |  COALESCE(len_w, 0) AS len_w, COALESCE(sumabs, 0) AS sumabs,
       |  COALESCE(cr, 0) AS cr
       |  FROM ${p}ac0 c CROSS JOIN range(0, $AudioWindows) wi(i)
       |  LEFT JOIN ${p}aws s ON s.asset_id = c.asset_id AND s.w = wi.i),
       |${p}ag AS (SELECT asset_id, w,
       |  CASE WHEN len_w = 0 THEN 0
       |       ELSE (sumabs * 1000) // len_w END AS ge,
       |  CASE WHEN len_w <= 1 THEN 0
       |       ELSE (cr * 1000) // (len_w - 1) END AS gc
       |  FROM ${p}awf),
       |${p}agl AS (SELECT asset_id, w, ge, gc,
       |  ge // ${graft.ops.AudioDedup.AudioEnergyQuant} AS le,
       |  gc // ${graft.ops.AudioDedup.AudioCrossQuant} AS lc
       |  FROM ${p}ag),
       |${p}asig AS (SELECT asset_id,
       |  list_concat(list(CAST(ge AS BIGINT) ORDER BY w),
       |    list(CAST(gc AS BIGINT) ORDER BY w)) AS g,
       |  list_concat(list(CAST(le AS INT) ORDER BY w),
       |    list(CAST(lc AS INT) ORDER BY w)) AS lv
       |  FROM ${p}agl GROUP BY asset_id)""".stripMargin
  }

  /** abs-difference integer L1 chain over two BIGINT[16] columns. */
  private def audioL1Chain(a: String, b: String): String =
    (1 to 16).map(i => s"abs($a[$i] - $b[$i])").mkString("(", " + ", ")")

  /** The signature-generic pricing-scout SQL ([[graft.ops.Multimodal
    * .sigDupBound]]'s oracle twin): key histogram + probe-vs-histogram
    * aggregates over any CTE chain ending in a `(asset_id, lv, k)`
    * signature table `sig` — shared by mm_dup_bound (phash) and
    * mm_audio_bound. Candidates are priced, never materialized, on both
    * engines. */
  private def sigBoundSql(ctes: String, sig: String): String =
    s"""WITH $ctes,
       |cnt AS MATERIALIZED (SELECT k, CAST(count(*) AS BIGINT) AS c
       |  FROM $sig GROUP BY k),
       |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
       |  CAST(COALESCE(max(c), 0) AS BIGINT) AS max_key_group,
       |  CAST(COALESCE(sum(c * (c - 1) // 2), 0) AS BIGINT)
       |    AS exact_pair_bound FROM cnt),
       |pr AS (SELECT asset_id, k AS ka, unnest($mmProbeList) AS pk
       |  FROM $sig),
       |pb AS (SELECT CAST(COALESCE(sum(c.c), 0) AS BIGINT)
       |    AS probe_candidate_bound
       |  FROM pr JOIN cnt c ON pr.pk = c.k WHERE pr.pk <> pr.ka),
       |na AS (SELECT CAST(count(*) AS BIGINT) AS n_assets FROM $sig)
       |SELECT n_assets, n_keys, max_key_group, exact_pair_bound,
       |  probe_candidate_bound,
       |  CAST(exact_pair_bound + probe_candidate_bound AS BIGINT)
       |    AS verify_bound
       |FROM na CROSS JOIN ex CROSS JOIN pb""".stripMargin

  /** mm_audio_pairs oracle: the image family's probe-join shape over the
    * audio key space, verified by the exact integer L1 threshold. The
    * anchored variant differs only in the signature CTE chain. */
  private def audioDupPairsSqlOver(ctes: String): String = {
    import graft.ops.AudioDedup.AudioL1Eps
    s"""WITH $ctes,
       |apr AS (SELECT asset_id AS id_a, unnest($mmProbeList) AS pk
       |  FROM ak),
       |acd AS (SELECT apr.id_a, b.asset_id AS id_b
       |  FROM apr JOIN ak b ON apr.pk = b.k AND apr.id_a < b.asset_id
       |  GROUP BY 1, 2)
       |SELECT c.id_a, c.id_b,
       |  CAST(${audioL1Chain("a.g", "b.g")} AS BIGINT) AS l1
       |FROM acd c JOIN ak a ON a.asset_id = c.id_a
       |JOIN ak b ON b.asset_id = c.id_b
       |WHERE ${audioL1Chain("a.g", "b.g")} <= $AudioL1Eps
       |ORDER BY id_a, id_b""".stripMargin
  }

  private def audioDupPairsSql(maxId: Option[Long]): String =
    audioDupPairsSqlOver(audioSigCtes(maxId))

  private def audioDupPairsAnchoredSql(maxId: Option[Long]): String =
    audioDupPairsSqlOver(audioSigAnchoredCtes(maxId))

  /** mm_audio_pairs' exact ground truth over the bounded domain (the
    * mm_audio_recall member that isn't itself a harness query). */
  private def audioDupExactSqlOver(ctes: String): String =
    s"""WITH $ctes
       |SELECT a.asset_id AS id_a, b.asset_id AS id_b,
       |  CAST(${audioL1Chain("a.g", "b.g")} AS BIGINT) AS l1
       |FROM ak a JOIN ak b ON a.asset_id < b.asset_id
       |WHERE ${audioL1Chain("a.g", "b.g")} <=
       |  ${graft.ops.AudioDedup.AudioL1Eps}
       |ORDER BY id_a, id_b""".stripMargin

  private def audioDupExactSql(maxId: Long): String =
    audioDupExactSqlOver(audioSigCtes(Some(maxId)))

  private def audioDupAnchoredExactSql(maxId: Long): String =
    audioDupExactSqlOver(audioSigAnchoredCtes(Some(maxId)))

  /** mm_dup_pairs' exact ground truth over the bounded domain (the
    * mm_dup_recall member that isn't itself a harness query). */
  private def mmDupExactSql(maxId: Long): String =
    s"""WITH ${mmPhashCtes(Some(maxId))}
       |SELECT a.asset_id AS id_a, b.asset_id AS id_b,
       |  round(${mmL1Chain("a.e", "b.e")}, 6) AS l1
       |FROM sk a JOIN sk b ON a.asset_id < b.asset_id
       |WHERE ${mmL1Chain("a.e", "b.e")} <= ${graft.ops.Multimodal.MmDupL1Eps}
       |ORDER BY id_a, id_b""".stripMargin

  // --- curation-chain fragments (corpus_curate / quality_distill) ---------

  /** CTE chain ending in `tok` (exact-dedup keepers with tokens) and
    * `dropped` (near-dup cluster non-keepers, via recursive closure) —
    * the first two stages of Corpus.curate. Callers must open with
    * WITH RECURSIVE. */
  private def curateDroppedChain: String = {
    val ekTok =
      """SELECT doc_id, text, string_split(text, ' ') AS tokens FROM (
        |  SELECT doc_id, text,
        |    min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |  FROM documents) e WHERE doc_id = keeper""".stripMargin
    s"""${minhashPairsCteFrom(ekTok)},
       |good AS (SELECT doc_a, doc_b FROM pairs
       |  WHERE jaccard >= ${Dedup.JaccardThreshold}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM good
       |  UNION SELECT doc_b, doc_a FROM good),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
       |  FROM reach GROUP BY a),
       |dropped AS (SELECT doc_id FROM comp WHERE doc_id <> cluster)""".stripMargin
  }

  /** Stage-3 keep predicate over `tok` rows (near-dup drop + quality
    * gate) — Corpus.curate's final filter. */
  private def curateKeepPredicate: String =
    s"""doc_id NOT IN (SELECT doc_id FROM dropped)
       |  AND len(tokens) BETWEEN ${Corpus.MinTokens} AND ${Corpus.MaxTokens}
       |  AND len(list_distinct(tokens)) / len(tokens) >= ${Corpus.MinTypeTokenRatio}""".stripMargin

  /** quality_distill replay: labels from the curate chain, integer
    * micro-features, and the stashed micro-weight literals — the logit is
    * a pure BIGINT sum, so no transcendental parity is involved. */
  private def qualityDistillOracle(wm: Array[Long]): String = {
    val sw = graft.ops.TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
    val z = (0 until wm.length).map(j => s"f$j*(${wm(j)})").mkString(" + ")
    s"""WITH RECURSIVE $curateDroppedChain,
       |cur AS (SELECT doc_id FROM tok WHERE $curateKeepPredicate),
       |ft AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tokens
       |  FROM documents),
       |fx AS (SELECT doc_id,
       |  CASE WHEN doc_id IN (SELECT doc_id FROM cur) THEN 1 ELSE 0 END AS label,
       |  CAST(1000000 AS BIGINT) AS f0,
       |  len(tokens) * 10000 AS f1,
       |  (len(list_distinct(tokens)) * 1000000) // len(tokens) AS f2,
       |  (len(list_filter(tokens, t -> t IN ($sw))) * 1000000) // len(tokens) AS f3,
       |  n_chars * 1000 AS f4,
       |  ((n_chars - len(tokens) + 1) * 100000) // len(tokens) AS f5
       |  FROM ft),
       |zx AS (SELECT doc_id, label, ($z) AS z FROM fx)
       |SELECT doc_id, CAST(label AS INT) AS label,
       |  CAST(z > 0 AS INT) AS pred,
       |  round(CAST(z AS DOUBLE) / 1e12, 4) AS margin
       |FROM zx ORDER BY doc_id""".stripMargin
  }

  /** corpus_dsir replay: the stashed per-bucket micro-nat weights make the
    * score a pure BIGINT sum over the hashed unigram+bigram stream (the
    * fit — the only place transcendentals run — is replayed from
    * literals, spec-verified independently); selection is the portable
    * rank-cutoff form. DuckDB sums BIGINT into HUGEINT, hence the cast. */
  private def dsirOracle(lam: Array[Long]): String = {
    val (a, b) = graft.ops.Corpus.DsirSeed
    val bucket = s"((${SharedHash.duckK("gram", a, b)}) % ${graft.ops.Corpus.DsirBuckets})"
    val lamVals = lam.zipWithIndex.map { case (v, i) => s"($i, $v)" }.mkString(", ")
    s"""WITH lam(bucket, w) AS (VALUES $lamVals),
       |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(toks) AS gram FROM t
       |  UNION ALL
       |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
       |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
       |    ELSE [] END) AS gram FROM t),
       |sc AS (SELECT doc_id, CAST(sum(l.w) AS BIGINT) AS logw_micro
       |  FROM (SELECT doc_id, $bucket AS bucket FROM g) gb
       |  JOIN lam l ON l.bucket = gb.bucket
       |  GROUP BY doc_id),
       |r AS (SELECT d.doc_id, d.source, sc.logw_micro,
       |  CAST(row_number() OVER (PARTITION BY d.source
       |    ORDER BY sc.logw_micro DESC, d.doc_id ASC) AS INT) AS rnk,
       |  count(*) OVER (PARTITION BY d.source) AS n_src
       |  FROM documents d JOIN sc ON sc.doc_id = d.doc_id)
       |SELECT doc_id, source, logw_micro,
       |  CAST(rnk * 100 <= n_src * ${graft.ops.Corpus.DsirKeepPct} AS INT) AS sel
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** corpus_dsir_intake replay: the delta split's scores under the
    * STASHED standing-fit lam, gated by the stashed frozen per-source
    * cutoffs (score >= cutoff; absent source → reject). The indexed
    * variant shares this oracle — the persisted model equals the
    * deterministic in-query fit. */
  /** The composed intake front door (corpus_front_door): all four member
    * pipelines nested into ONE statement — the dedup_incremental triage
    * (renamed fdoc/dsh/dmh/dbands to keep the lm chain's `tok` free), the
    * fuzzy-decontamination probe re-aimed at the benchmark residue, the
    * text_ppl_intake threshold/bucket chain, and the dsirIntakeOracle gate
    * under the run's stashed (lam, cutoffs) literals. Multiply-referenced
    * CTEs are MATERIALIZED (the r12 lesson: DuckDB inlines otherwise and
    * the expression trees multiply). */
  private def frontDoorOracle(lam: Array[Long],
      thr: Seq[(String, Long)]): String = {
    import graft.ops.{Corpus, Dedup, TermScoring, TextAnalysis}
    val h = SharedHash.duck48("CAST(doc_id AS VARCHAR)")
    // --- dedup + decontamination legs (band machinery over one corpus scan)
    val bandSelects = (0 until Dedup.NumBands).map { j =>
      val key = (0 until Dedup.RowsPerBand)
        .map(r => s"CAST(mh_${j * Dedup.RowsPerBand + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, is_inc, is_bench, $j AS band, $key AS key FROM dmh"
    }.mkString(" UNION ALL ")
    // --- perplexity leg (the text_ppl_intake chain, d renamed pd)
    def hits(lang: String) =
      s"len(list_filter(toks, t -> t IN (${inList(TextAnalysis.LangProfiles(lang))})))"
    val k = TermScoring.PplSampleK
    // --- DSIR leg (dsirIntakeOracle's body under this run's literals)
    val (da, db) = Corpus.DsirSeed
    val dsirBucket = s"((${SharedHash.duckK("gram", da, db)}) % ${Corpus.DsirBuckets})"
    val lamVals = lam.zipWithIndex.map { case (v, i) => s"($i, $v)" }.mkString(", ")
    val thrCte =
      if (thr.isEmpty)
        "thr AS (SELECT CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS cutoff WHERE FALSE)"
      else "thr(source, cutoff) AS (VALUES " +
        thr.map { case (src, c) => s"('$src', $c)" }.mkString(", ") + ")"
    s"""WITH fdoc AS MATERIALIZED (SELECT doc_id, text, source,
       |  string_split(text, ' ') AS tokens,
       |  ($h % 10) = 9 AS is_inc,
       |  ($h % 10) = ${Corpus.FrontDoorBenchBucket} AS is_bench
       |  FROM documents),
       |dsh AS MATERIALIZED (SELECT doc_id, is_inc, is_bench,
       |  $shinglesCase AS sh FROM fdoc),
       |dmh AS (SELECT doc_id, is_inc, is_bench, $minhashCols FROM dsh),
       |dbands AS MATERIALIZED ($bandSelects),
       |dcand AS (SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS ex_id
       |  FROM dbands a JOIN dbands b
       |  ON a.band = b.band AND a.key = b.key AND a.is_inc AND NOT b.is_inc),
       |dnear AS (SELECT inc_id, count(*) AS n_near FROM dcand
       |  JOIN dsh sa ON sa.doc_id = dcand.inc_id
       |  JOIN dsh sb ON sb.doc_id = dcand.ex_id
       |  WHERE round(len(list_distinct(list_intersect(sa.sh, sb.sh))) /
       |        len(list_distinct(sa.sh || sb.sh)), 4) >= ${Dedup.JaccardThreshold}
       |  GROUP BY inc_id),
       |dfp AS (SELECT DISTINCT md5(text) AS fp FROM fdoc WHERE NOT is_inc),
       |dexact AS (SELECT DISTINCT doc_id FROM fdoc
       |  WHERE is_inc AND md5(text) IN (SELECT fp FROM dfp)),
       |ctcand AS (SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS bench_id
       |  FROM dbands a JOIN dbands b
       |  ON a.band = b.band AND a.key = b.key AND a.is_inc AND b.is_bench),
       |contam AS (SELECT DISTINCT inc_id AS doc_id FROM ctcand
       |  JOIN dsh sa ON sa.doc_id = ctcand.inc_id
       |  JOIN dsh sb ON sb.doc_id = ctcand.bench_id
       |  WHERE round(len(list_distinct(list_intersect(sa.sh, sb.sh))) /
       |        len(list_distinct(sa.sh || sb.sh)), 4) >= ${Dedup.JaccardThreshold}),
       |${mmPhashCtes(None, "m")},
       |mpr AS (SELECT asset_id AS inc_id, unnest($mmProbeList) AS pk
       |  FROM msk
       |  WHERE (${SharedHash.duck48("CAST(asset_id AS VARCHAR)")} % 10) = 9
       |    AND (${SharedHash.duck48("CAST(asset_id AS VARCHAR)")} % 3) = 0),
       |mcd AS (SELECT mpr.inc_id, c.asset_id AS ex_id
       |  FROM mpr JOIN msk c ON mpr.pk = c.k
       |  AND (${SharedHash.duck48("CAST(c.asset_id AS VARCHAR)")} % 10) <> 9
       |  GROUP BY 1, 2),
       |mnear AS (SELECT inc_id, CAST(count(*) AS BIGINT) AS n_mm FROM mcd
       |  JOIN msk x ON x.asset_id = mcd.inc_id
       |  JOIN msk y ON y.asset_id = mcd.ex_id
       |  WHERE ${mmL1Chain("x.e", "y.e")} <= ${graft.ops.Multimodal.MmDupL1Eps}
       |  GROUP BY 1),
       |${audioSigCtes(None, "au")},
       |aupr AS (SELECT asset_id AS inc_id, unnest($mmProbeList) AS pk
       |  FROM auak
       |  WHERE (${SharedHash.duck48("CAST(asset_id AS VARCHAR)")} % 10) = 9
       |    AND (${SharedHash.duck48("CAST(asset_id AS VARCHAR)")} % 3) = 2),
       |aucd AS (SELECT aupr.inc_id, c.asset_id AS ex_id
       |  FROM aupr JOIN auak c ON aupr.pk = c.k
       |  AND (${SharedHash.duck48("CAST(c.asset_id AS VARCHAR)")} % 10) <> 9
       |  GROUP BY 1, 2),
       |aunear AS (SELECT inc_id, CAST(count(*) AS BIGINT) AS n_au
       |  FROM aucd
       |  JOIN auak x ON x.asset_id = aucd.inc_id
       |  JOIN auak y ON y.asset_id = aucd.ex_id
       |  WHERE ${audioL1Chain("x.g", "y.g")}
       |    <= ${graft.ops.AudioDedup.AudioL1Eps}
       |  GROUP BY 1),
       |${lmBackoffCtesWith(
             s"(${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 10) < 8")},
       |sc AS (SELECT doc_id,
       |  round(CAST(sum(w_u) AS BIGINT) / (count(*) * 1000000.0), 4) AS lm_score
       |  FROM w GROUP BY doc_id),
       |lgx AS (SELECT doc_id,
       |  CASE WHEN ${hits("es")} > ${hits("en")} AND ${hits("es")} > ${hits("fr")} THEN 'es'
       |       WHEN ${hits("fr")} > ${hits("en")} THEN 'fr' ELSE 'en' END AS lang
       |  FROM tok),
       |pd AS (SELECT sc.doc_id, sc.lm_score, lgx.lang,
       |  (${SharedHash.duck48("CAST(sc.doc_id AS VARCHAR)")} % 10) AS res
       |  FROM sc JOIN lgx USING (doc_id)),
       |pk AS (SELECT lang, doc_id FROM (SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY
       |      ${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS r
       |  FROM pd WHERE res = ${Corpus.FrontDoorBenchBucket}) WHERE r <= $k),
       |smp AS (SELECT pd.lang, pd.lm_score,
       |  row_number() OVER (PARTITION BY pd.lang
       |    ORDER BY pd.lm_score ASC, pd.doc_id ASC) AS r,
       |  count(*) OVER (PARTITION BY pd.lang) AS n
       |  FROM pd JOIN pk USING (lang, doc_id)),
       |th AS (SELECT lang,
       |  max(CASE WHEN r = ceil(n / 3.0) THEN lm_score END) AS t_lo,
       |  max(CASE WHEN r = ceil(n * 2 / 3.0) THEN lm_score END) AS t_hi
       |  FROM smp GROUP BY lang),
       |pb AS (SELECT pd.doc_id,
       |  CASE WHEN th.t_lo IS NULL THEN 'unscored'
       |       WHEN pd.lm_score <= th.t_lo THEN 'tail'
       |       WHEN pd.lm_score <= th.t_hi THEN 'middle'
       |       ELSE 'head' END AS bucket
       |  FROM pd LEFT JOIN th USING (lang) WHERE pd.res = 9),
       |lam(bucket, w) AS (VALUES $lamVals),
       |$thrCte,
       |dg AS (
       |  SELECT doc_id, unnest(tokens) AS gram FROM fdoc WHERE is_inc
       |  UNION ALL
       |  SELECT doc_id, unnest(CASE WHEN len(tokens) >= 2
       |    THEN list_transform(range(1, len(tokens)), i -> tokens[i] || ' ' || tokens[i + 1])
       |    ELSE [] END) AS gram FROM fdoc WHERE is_inc),
       |dscr AS (SELECT doc_id, CAST(sum(l.w) AS BIGINT) AS logw_micro
       |  FROM (SELECT doc_id, $dsirBucket AS bucket FROM dg) gb
       |  JOIN lam l ON l.bucket = gb.bucket
       |  GROUP BY doc_id),
       |dgate AS (SELECT f.doc_id,
       |  CAST(coalesce(dscr.logw_micro >= t.cutoff, FALSE) AS INT) AS dsir_sel
       |  FROM fdoc f JOIN dscr USING (doc_id) LEFT JOIN thr t USING (source)
       |  WHERE f.is_inc),
       |gop AS (SELECT doc_id,
       |  (n >= ${TextAnalysis.GopherMinWords}
       |    AND n <= ${TextAnalysis.GopherMaxWords}
       |    AND sum_len >= ${TextAnalysis.GopherMinAvgLen} * n
       |    AND sum_len <= ${TextAnalysis.GopherMaxAvgLen} * n
       |    AND symbol_hits * 1000 <= ${TextAnalysis.GopherSymbolPermille} * n
       |    AND stop_hits >= ${TextAnalysis.GopherMinStopHits}
       |    AND alpha_words * 1000 >= ${TextAnalysis.GopherAlphaPermille} * n
       |    AND (g2len - g2d) * 1000 <= ${TextAnalysis.GopherDup2Permille} * g2len
       |  ) AS gopher_ok
       |  FROM (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n,
       |    length(replace(text, ' ', '')) AS sum_len,
       |    (length(text) - length(replace(text, '#', ''))) +
       |      (length(text) - length(replace(text, '...', ''))) // 3
       |      AS symbol_hits,
       |    len(list_filter(tokens, t -> regexp_matches(t, '[a-z]')))
       |      AS alpha_words,
       |    len(list_intersect(list_distinct(tokens),
       |      [${inList(TextAnalysis.Stopwords)}])) AS stop_hits,
       |    CASE WHEN len(tokens) >= 2 THEN len(tokens) - 1 ELSE 1 END
       |      AS g2len,
       |    len(list_distinct(CASE WHEN len(tokens) >= 2 THEN
       |      list_transform(range(1, CAST(len(tokens) AS BIGINT)), i ->
       |        tokens[i] || ' ' || tokens[i+1])
       |      ELSE [text] END)) AS g2d
       |    FROM fdoc WHERE is_inc))
       |SELECT f.doc_id,
       |  CASE WHEN f.doc_id IN (SELECT doc_id FROM dexact) THEN 'exact'
       |       WHEN COALESCE(n.n_near, 0) > 0 THEN 'near'
       |       ELSE 'novel' END AS verdict,
       |  f.doc_id IN (SELECT doc_id FROM contam) AS contaminated,
       |  COALESCE(pb.bucket, 'unscored') AS bucket,
       |  COALESCE(g.dsir_sel, 0) AS dsir_sel,
       |  CASE ((${SharedHash.duck48("CAST(f.doc_id AS VARCHAR)")}) % 3)
       |    WHEN 0 THEN 'image' WHEN 1 THEN 'text' ELSE 'audio'
       |    END AS modality,
       |  CASE WHEN ((${SharedHash.duck48("CAST(f.doc_id AS VARCHAR)")}) % 3) <> 0
       |         THEN 'n/a'
       |       WHEN COALESCE(mn.n_mm, 0) > 0 THEN 'near'
       |       ELSE 'novel' END AS mm_verdict,
       |  CASE WHEN ((${SharedHash.duck48("CAST(f.doc_id AS VARCHAR)")}) % 3) <> 2
       |         THEN 'n/a'
       |       WHEN ausig.asset_id IS NULL THEN 'n/a'
       |       WHEN COALESCE(aun.n_au, 0) > 0 THEN 'near'
       |       ELSE 'novel' END AS audio_verdict,
       |  COALESCE(gp.gopher_ok, FALSE) AS gopher_ok,
       |  (CASE WHEN f.doc_id IN (SELECT doc_id FROM dexact) THEN 'exact'
       |        WHEN COALESCE(n.n_near, 0) > 0 THEN 'near'
       |        ELSE 'novel' END) = 'novel'
       |    AND NOT (f.doc_id IN (SELECT doc_id FROM contam))
       |    AND COALESCE(pb.bucket, 'unscored') IN ('head', 'middle')
       |    AND COALESCE(g.dsir_sel, 0) = 1
       |    AND (((${SharedHash.duck48("CAST(f.doc_id AS VARCHAR)")}) % 3) <> 0
       |      OR COALESCE(mn.n_mm, 0) = 0)
       |    AND (((${SharedHash.duck48("CAST(f.doc_id AS VARCHAR)")}) % 3) <> 2
       |      OR (ausig.asset_id IS NOT NULL AND COALESCE(aun.n_au, 0) = 0))
       |    AND COALESCE(gp.gopher_ok, FALSE) AS admitted
       |FROM fdoc f
       |LEFT JOIN dnear n ON n.inc_id = f.doc_id
       |LEFT JOIN pb ON pb.doc_id = f.doc_id
       |LEFT JOIN dgate g ON g.doc_id = f.doc_id
       |LEFT JOIN mnear mn ON mn.inc_id = f.doc_id
       |LEFT JOIN aunear aun ON aun.inc_id = f.doc_id
       |LEFT JOIN auak ausig ON ausig.asset_id = f.doc_id
       |LEFT JOIN gop gp ON gp.doc_id = f.doc_id
       |WHERE f.is_inc ORDER BY f.doc_id""".stripMargin
  }

  private def dsirIntakeOracle(lam: Array[Long],
      thr: Seq[(String, Long)]): String = {
    val (a, b) = graft.ops.Corpus.DsirSeed
    val bucket = s"((${SharedHash.duckK("gram", a, b)}) % ${graft.ops.Corpus.DsirBuckets})"
    val lamVals = lam.zipWithIndex.map { case (v, i) => s"($i, $v)" }.mkString(", ")
    val thrCte =
      if (thr.isEmpty)
        "thr AS (SELECT CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS cutoff WHERE FALSE)"
      else "thr(source, cutoff) AS (VALUES " +
        thr.map { case (src, c) => s"('$src', $c)" }.mkString(", ") + ")"
    s"""WITH lam(bucket, w) AS (VALUES $lamVals),
       |$thrCte,
       |d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
       |  FROM documents
       |  WHERE (${SharedHash.duck48("CAST(doc_id AS VARCHAR)")} % 10) = 9),
       |g AS (
       |  SELECT doc_id, unnest(toks) AS gram FROM d
       |  UNION ALL
       |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
       |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
       |    ELSE [] END) AS gram FROM d),
       |sc AS (SELECT doc_id, CAST(sum(l.w) AS BIGINT) AS logw_micro
       |  FROM (SELECT doc_id, $bucket AS bucket FROM g) gb
       |  JOIN lam l ON l.bucket = gb.bucket
       |  GROUP BY doc_id)
       |SELECT d.doc_id, d.source, sc.logw_micro,
       |  CAST(coalesce(sc.logw_micro >= t.cutoff, FALSE) AS INT) AS sel
       |FROM d JOIN sc USING (doc_id) LEFT JOIN thr t USING (source)
       |ORDER BY doc_id""".stripMargin
  }

  // --- BPE oracles ---------------------------------------------------------

  /** Adjacent-symbol pair counts (weighted by word freq) of a wrapped-vocab
    * CTE `v` — the per-round aggregate of BPE training. */
  private def bpePairsSql(v: String): String =
    s"""SELECT a, b, sum(freq) AS c FROM (
       |  SELECT freq,
       |    unnest(list_transform(range(1, CAST(len(tk) AS BIGINT)), i -> tk[i])) AS a,
       |    unnest(list_transform(range(1, CAST(len(tk) AS BIGINT)), i -> tk[i + 1])) AS b
       |  FROM (SELECT freq, string_split(substr(s, 2, len(s) - 2), '><') AS tk FROM $v))
       |GROUP BY 1, 2""".stripMargin

  /** The full training trajectory as a CTE chain: v0 = char-wrapped
    * word-frequency table; round r = pair counts of v(r-1) → 1-row argmax
    * w_r → v_r with the winning pair replaced. MATERIALIZED throughout:
    * v(r-1) is consumed by BOTH p_r and v_r — DuckDB's default CTE
    * inlining would re-expand the whole chain per reference (2^rounds
    * scans of documents; observed as fd exhaustion). */
  private def bpeTrainChain(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""p$r AS (${bpePairsSql(s"v${r - 1}")}),
         |w$r AS MATERIALIZED (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         |v$r AS MATERIALIZED (SELECT replace(s,
         |  '<' || (SELECT a FROM w$r) || '><' || (SELECT b FROM w$r) || '>',
         |  '<' || (SELECT a FROM w$r) || (SELECT b FROM w$r) || '>') AS s, freq
         |  FROM v${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""wf AS (SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY 1),
       |v0 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', '<\\1>', 'g') AS s, freq FROM wf),
       |$rounds""".stripMargin
  }

  /** Merge-table projection of the trajectory. */
  private def bpeMergesOracle: String = {
    val k = graft.ops.Bpe.NumMerges
    val union = (1 to k).map(r =>
      s"SELECT CAST($r AS INT) AS merge_rank, a AS lhs, b AS rhs, " +
        s"CAST(c AS BIGINT) AS pair_count FROM w$r").mkString(" UNION ALL ")
    s"""WITH ${bpeTrainChain(k)}
       |SELECT * FROM ($union) ORDER BY merge_rank""".stripMargin
  }

  /** Final-vocabulary projection: the same replayed trajectory, read out
    * through v_k's symbols instead of the winner rows — the training is
    * verified twice through independent projections. */
  private def bpeVocabOracle: String = {
    val k = graft.ops.Bpe.NumMerges
    s"""WITH ${bpeTrainChain(k)}
       |SELECT symbol, CAST(sum(freq) AS BIGINT) AS n_occ FROM (
       |  SELECT freq, unnest(string_split(substr(s, 2, len(s) - 2), '><')) AS symbol
       |  FROM v$k)
       |GROUP BY 1 ORDER BY n_occ DESC, symbol""".stripMargin
  }

  /** Encode replay from the stashed merge table: the identical replace
    * chain in merge-rank order, then symbol counting by '><' occurrences. */
  /** Per-language fertility: the encode oracle's replace-chain replay
    * aggregated per the corpus's labeled lang column instead of per doc.
    * Sums are CAST to BIGINT before the division so DuckDB's HUGEINT sum
    * type never leaks into the compared frame. */
  private def bpeFertilityOracle(m: Seq[(String, String, Long)]): String = {
    val chain = m.foldLeft("s0") { case (acc, (a, b, _)) =>
      s"replace($acc, '<$a><$b>', '<$a$b>')"
    }
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |e AS (SELECT doc_id, regexp_replace(word, '(.)', '<\\1>', 'g') AS s0
       |  FROM w WHERE word <> ''),
       |n AS (SELECT doc_id, $chain AS enc FROM e),
       |d AS (SELECT doc_id, count(*) AS n_words,
       |  CAST(sum((len(enc) - len(replace(enc, '><', ''))) // 2 + 1) AS BIGINT) AS n_bpe
       |  FROM n GROUP BY doc_id)
       |SELECT docs.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(d.n_words) AS BIGINT) AS n_words,
       |  CAST(sum(d.n_bpe) AS BIGINT) AS n_bpe,
       |  round(CAST(sum(d.n_bpe) AS BIGINT) / CAST(sum(d.n_words) AS BIGINT), 4) AS fertility
       |FROM d JOIN documents docs USING (doc_id)
       |GROUP BY docs.lang ORDER BY lang""".stripMargin
  }

  private def bpeEncodeOracle(m: Seq[(String, String, Long)]): String = {
    val chain = m.foldLeft("s0") { case (acc, (a, b, _)) =>
      s"replace($acc, '<$a><$b>', '<$a$b>')"
    }
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |e AS (SELECT doc_id, regexp_replace(word, '(.)', '<\\1>', 'g') AS s0
       |  FROM w WHERE word <> ''),
       |n AS (SELECT doc_id, $chain AS enc FROM e),
       |agg AS (SELECT doc_id, count(*) AS n_words,
       |  CAST(sum((len(enc) - len(replace(enc, '><', ''))) // 2 + 1) AS BIGINT) AS n_bpe
       |  FROM n GROUP BY doc_id)
       |SELECT doc_id, n_words, n_bpe, round(n_bpe / n_words, 4) AS bpe_ratio
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  // --- literal-centroid oracles (ann_ivf / ann_pq / emb_semdedup) ---------
  //
  // The k-means FIT isn't SQL-expressible, but everything downstream of the
  // fitted constants is: assignment (first-minimum argmin over literal
  // centroids — the engine uses the identical array_position-of-min idiom),
  // probe ranking, ADC scoring, rerank, and within-cell grouping. The
  // constants are stashed by the queries when they run (Verify runs every
  // query before dumping oracle_sql.json) and exported here as SQL literals
  // — the same replay trick as emb_dup_lsh's seeded plane coefficients.
  // Double.toString round-trips exactly, and every dot is the same
  // left-associated chain as vec_dot, so the replay is bit-exact.

  /** Left-associated v[off+1..off+dim] · literal chain. */
  private def litDot(v: String, c: Array[Double], off: Int = 0): String =
    (1 to c.length).map(d => s"$v[${off + d}]*(${c(d - 1)})")
      .mkString("(", " + ", ")")

  /** vec_dot(lit, lit) replay: the left fold over squared literal terms is
    * computed HERE in the same IEEE order vec_dot uses at runtime, and
    * emitted as one double literal — a `(lit)*(lit)` term chain in SQL
    * would be DECIMAL arithmetic in DuckDB (plain decimal literals are
    * DECIMAL, and DECIMAL×DECIMAL chains overflow DECIMAL(38)). */
  private def litNorm(c: Array[Double]): String = {
    var acc = 0.0
    var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    s"CAST($acc AS DOUBLE)"
  }

  /** v[off+1..off+dim] · itself (the sub-vector self-dot). */
  private def selfDot(v: String, off: Int, dim: Int): String =
    (1 to dim).map(d => s"$v[${off + d}]*$v[${off + d}]")
      .mkString("(", " + ", ")")

  /** Shared assignment CTEs: n → a0 (distance columns) → a (argmin cell,
    * distance list kept for probe ranking). */
  private def assignCtes(cs: IndexedSeq[Array[Double]]): String = {
    val dCols = cs.indices.map(i =>
      s"(${dotChain("e", "e")} - 2*${litDot("e", cs(i))} + ${litNorm(cs(i))}) AS d_$i")
      .mkString(", ")
    val dList = cs.indices.map(i => s"d_$i").mkString("[", ", ", "]")
    s"""a0 AS (SELECT vec_id, e, nrm, $dCols FROM n),
       |a AS (SELECT vec_id, e, nrm, $dList AS ds,
       |  CAST(list_position($dList, list_min($dList)) - 1 AS INT) AS cell
       |  FROM a0)""".stripMargin
  }

  private def ivfOracle(cs: IndexedSeq[Array[Double]]): String = {
    import graft.ops.Similarity.{AnnK, AnnQueries, IvfProbe}
    s"""WITH $embCte,
       |${assignCtes(cs)},
       |qd AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn,
       |  CAST(generate_subscripts(ds, 1) - 1 AS INT) AS cell,
       |  unnest(ds) AS dist2 FROM a WHERE vec_id < $AnnQueries),
       |pr AS (SELECT q_id, qe, qn, cell FROM (
       |  SELECT q_id, qe, qn, cell, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dist2 ASC, cell ASC) AS p FROM qd) t WHERE p <= $IvfProbe),
       |sc AS (SELECT p.q_id, a.vec_id AS c_id,
       |  round(${dotChain("p.qe", "a.e")} / (sqrt(p.qn) * sqrt(a.nrm)), 6) AS sim
       |  FROM pr p JOIN a ON a.cell = p.cell AND p.q_id <> a.vec_id),
       |r AS (SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
       |  ORDER BY sim DESC, c_id ASC) AS INT) AS rnk, c_id, sim FROM sc)
       |SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= $AnnK
       |ORDER BY q_id, rnk""".stripMargin
  }

  private def semOracle(cs: IndexedSeq[Array[Double]]): String = {
    import graft.ops.Similarity.SemEps
    s"""WITH RECURSIVE $embCte,
       |${assignCtes(cs)},
       |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |  round(${dotChain("x.e", "y.e")} / (sqrt(x.nrm) * sqrt(y.nrm)), 6) AS sim
       |  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id),
       |good AS (SELECT id_a, id_b FROM p WHERE sim >= $SemEps),
       |edges AS (SELECT id_a AS ea, id_b AS eb FROM good
       |  UNION SELECT id_b, id_a FROM good),
       |reach(ea, eb) AS (
       |  SELECT ea, eb FROM edges
       |  UNION SELECT r.ea, g.eb FROM reach r JOIN edges g ON r.eb = g.ea),
       |comp AS (SELECT ea AS vec_id, least(ea, min(eb)) AS cluster
       |  FROM reach GROUP BY ea)
       |SELECT v.vec_id, v.cell,
       |  COALESCE(c.cluster, v.vec_id) AS keeper,
       |  COALESCE(c.cluster, v.vec_id) = v.vec_id AS kept
       |FROM a v LEFT JOIN comp c ON c.vec_id = v.vec_id
       |ORDER BY v.vec_id""".stripMargin
  }

  private def pqOracle(cbs: IndexedSeq[Array[Array[Double]]]): String = {
    import graft.ops.Similarity.{AnnK, AnnQueries, PqCodes, PqRerank}
    val m = cbs.length
    val subDim = VectorOps.Dim / m
    def off(j: Int) = j * subDim
    // per-vector encode: d2_{j,c} columns, then first-minimum argmin per j
    val dCols = (for (j <- 0 until m; c <- 0 until PqCodes) yield {
      val cb = cbs(j)(c)
      s"(${selfDot("e", off(j), subDim)} - 2*${litDot("e", cb, off(j))}" +
        s" + ${litNorm(cb)}) AS d2_${j}_$c"
    }).mkString(", ")
    val codeCols = (0 until m).map { j =>
      val l = (0 until PqCodes).map(c => s"d2_${j}_$c").mkString("[", ", ", "]")
      s"CAST(list_position($l, list_min($l)) - 1 AS INT) AS code_$j"
    }.mkString(", ")
    // ADC: per subspace, the LUT entry for the candidate's code is the
    // query sub-vector · that codebook centroid (replayed as a CASE)
    val adcTerms = (0 until m).map { j =>
      val cases = (0 until PqCodes).map(c =>
        s"WHEN $c THEN ${litDot("q.qe", cbs(j)(c), off(j))}").mkString(" ")
      s"(CASE c.code_$j $cases END)"
    }.mkString("(", " + ", ")")
    s"""WITH $embCte,
       |c0 AS (SELECT vec_id, e, nrm, $dCols FROM n),
       |cd AS (SELECT vec_id, nrm, $codeCols FROM c0),
       |q AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn FROM n
       |  WHERE vec_id < $AnnQueries),
       |adc AS (SELECT q.q_id, q.qe, q.qn, c.vec_id AS c_id,
       |  $adcTerms / (sqrt(q.qn) * sqrt(c.nrm)) AS adc_sim
       |  FROM q CROSS JOIN cd c WHERE q.q_id <> c.vec_id),
       |pr AS (SELECT q_id, qe, qn, c_id FROM (
       |  SELECT q_id, qe, qn, c_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adc_sim DESC, c_id ASC) AS p FROM adc) t
       |  WHERE p <= $PqRerank),
       |sc AS (SELECT p.q_id, p.c_id,
       |  round(${dotChain("p.qe", "x.e")} / (sqrt(p.qn) * sqrt(x.nrm)), 6) AS sim
       |  FROM pr p JOIN n x ON x.vec_id = p.c_id),
       |r AS (SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
       |  ORDER BY sim DESC, c_id ASC) AS INT) AS rnk, c_id, sim FROM sc)
       |SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= $AnnK
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** IVF+PQ replay: the assignment CTEs gate the ADC scoring by probed
    * cell (the equi-join that distinguishes ann_ivfpq from ann_pq's full
    * ADC scan), then the PQ encode / CASE-lookup ADC / exact-rerank
    * pieces replay verbatim from the stashed codebooks. */
  private def ivfpqOracle(cs: IndexedSeq[Array[Double]],
      cbs: IndexedSeq[Array[Array[Double]]]): String = {
    import graft.ops.Similarity.{AnnK, AnnQueries, IvfProbe, PqCodes, PqRerank}
    val m = cbs.length
    val subDim = VectorOps.Dim / m
    def off(j: Int) = j * subDim
    val dCols = (for (j <- 0 until m; c <- 0 until PqCodes) yield {
      val cb = cbs(j)(c)
      s"(${selfDot("e", off(j), subDim)} - 2*${litDot("e", cb, off(j))}" +
        s" + ${litNorm(cb)}) AS d2_${j}_$c"
    }).mkString(", ")
    val codeCols = (0 until m).map { j =>
      val l = (0 until PqCodes).map(c => s"d2_${j}_$c").mkString("[", ", ", "]")
      s"CAST(list_position($l, list_min($l)) - 1 AS INT) AS code_$j"
    }.mkString(", ")
    val adcTerms = (0 until m).map { j =>
      val cases = (0 until PqCodes).map(c =>
        s"WHEN $c THEN ${litDot("q.qe", cbs(j)(c), off(j))}").mkString(" ")
      s"(CASE c.code_$j $cases END)"
    }.mkString("(", " + ", ")")
    s"""WITH $embCte,
       |${assignCtes(cs)},
       |c0 AS (SELECT vec_id, nrm, cell, $dCols FROM a),
       |cd AS (SELECT vec_id, nrm, cell, $codeCols FROM c0),
       |qd AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn,
       |  CAST(generate_subscripts(ds, 1) - 1 AS INT) AS cell,
       |  unnest(ds) AS dist2 FROM a WHERE vec_id < $AnnQueries),
       |pr AS (SELECT q_id, qe, qn, cell FROM (
       |  SELECT q_id, qe, qn, cell, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dist2 ASC, cell ASC) AS p FROM qd) t WHERE p <= $IvfProbe),
       |adc AS (SELECT q.q_id, q.qe, q.qn, c.vec_id AS c_id,
       |  $adcTerms / (sqrt(q.qn) * sqrt(c.nrm)) AS adc_sim
       |  FROM pr q JOIN cd c ON c.cell = q.cell AND q.q_id <> c.vec_id),
       |rr AS (SELECT q_id, qe, qn, c_id FROM (
       |  SELECT q_id, qe, qn, c_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adc_sim DESC, c_id ASC) AS p FROM adc) t
       |  WHERE p <= $PqRerank),
       |sc AS (SELECT p.q_id, p.c_id,
       |  round(${dotChain("p.qe", "x.e")} / (sqrt(p.qn) * sqrt(x.nrm)), 6) AS sim
       |  FROM rr p JOIN n x ON x.vec_id = p.c_id),
       |r AS (SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
       |  ORDER BY sim DESC, c_id ASC) AS INT) AS rnk, c_id, sim FROM sc)
       |SELECT q_id, rnk, c_id, sim FROM r WHERE rnk <= $AnnK
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** PCA projection replay from the stashed fit: each coordinate is
    * dotChain(e, component literals) − (mean·component literal), exactly
    * the engine's (e − mean)·v = e·v − mean·v factoring. */
  private def pcaOracle(means: Array[Double],
      comps: IndexedSeq[Array[Double]], offsets: IndexedSeq[Double]): String = {
    val cols = comps.indices.map { i =>
      s"round(${litDot("e", comps(i))} - (CAST(${offsets(i)} AS DOUBLE)), 6) AS pc_$i"
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |SELECT vec_id, $cols FROM e ORDER BY vec_id""".stripMargin
  }

  /** Whitening replay: the PCA projection with a per-component
    * 1/√(λ+ε) literal scale applied before the round. */
  private def whitenOracle(comps: IndexedSeq[Array[Double]],
      offsets: IndexedSeq[Double], scales: IndexedSeq[Double]): String = {
    val cols = comps.indices.map { i =>
      s"round((${litDot("e", comps(i))} - (CAST(${offsets(i)} AS DOUBLE)))" +
        s" * (CAST(${scales(i)} AS DOUBLE)), 6) AS wc_$i"
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |SELECT vec_id, $cols FROM e ORDER BY vec_id""".stripMargin
  }

  /** cf_als_score_saved replay: the ALS FIT is not SQL-expressible, but
    * scoring from the SAVED artifact is — a rank-6 dot product over two
    * parquet factor tables DuckDB reads directly (the path is stashed by
    * the query; Verify dumps oracle_sql.json afterwards). The dense
    * user/product fit ids are deterministic ranks (distinct user_id
    * ascending; distinct event_type alphabetical), so the oracle rebuilds
    * the same mapping with window row_numbers; the engine's prediction is
    * the strict double left-fold vec_dot, which the left-associated term
    * chain here replays bit for bit (float→double factor cast is exact on
    * both sides). Inner factor joins ≙ coldStartStrategy=drop. */
  private def alsScoreSavedOracle(path: String): String = {
    val dot = (1 to graft.collab.Training.DefaultRank)
      .map(i => s"uf.f[$i]*pf.f[$i]").mkString("(", " + ", ")")
    s"""WITH ui AS (SELECT user_id,
       |  CAST(row_number() OVER (ORDER BY user_id) - 1 AS INT) AS u
       |  FROM (SELECT DISTINCT user_id FROM events)),
       |ti AS (SELECT event_type,
       |  CAST(row_number() OVER (ORDER BY event_type) - 1 AS INT) AS p
       |  FROM (SELECT DISTINCT event_type FROM events)),
       |valid AS (SELECT DISTINCT ui.u, ti.p, ui.user_id
       |  FROM events ev JOIN ui ON ui.user_id = ev.user_id
       |  JOIN ti ON ti.event_type = ev.event_type
       |  WHERE ev.event_id % 10 >= 8),
       |uf AS (SELECT id, CAST(features AS DOUBLE[]) AS f
       |  FROM read_parquet('$path/userFactors/*.parquet')),
       |pf AS (SELECT id, CAST(features AS DOUBLE[]) AS f
       |  FROM read_parquet('$path/itemFactors/*.parquet'))
       |SELECT v.user_id AS "user", v.p AS product, $dot AS prediction
       |FROM valid v JOIN uf ON uf.id = v.u JOIN pf ON pf.id = v.p
       |ORDER BY 1, 2""".stripMargin
  }

  /** The `_indexed` intake variants answer the SAME question from the
    * persisted standing index ([[graft.sources.IndexStore]]); their output
    * contract is byte-identical to the recompute-in-query forms, so they
    * share the oracle — the hash match is exactly the claim that probing
    * the persisted index loses nothing.
    *
    * A `def`, not a `val`: the literal-centroid oracles exist only once
    * their query has run and stashed the fitted constants (Verify's dump
    * happens after all queries) — before that they're absent, which the
    * driver records as the old rows-only check. */
  /** Recall/precision report oracle composed from already-verified member
    * oracles: each member statement nests as a derived table (DuckDB scopes
    * its WITH chain inside the parentheses), so the report's ground truth
    * IS the hash-checked member query, not a re-derivation. Ratios are
    * BIGINT parts-per-million via integer division (`//`), mirroring
    * Spark's `div` — no IEEE accumulation crosses the engine boundary. */
  private def qualityReportOracle(exactSql: String,
      variants: Seq[(String, String)], ka: String, kb: String,
      extraCtes: String = ""): String = {
    val lead = if (extraCtes.isEmpty) "" else s"$extraCtes,\n"
    qualityReportOracleBody(lead, exactSql, variants, ka, kb)
  }

  private def qualityReportOracleBody(lead: String, exactSql: String,
      variants: Seq[(String, String)], ka: String, kb: String): String = {
    val u = variants.map { case (n, q) =>
      s"SELECT '$n' AS variant, $ka, $kb FROM (\n$q\n) __v"
    }.mkString("\nUNION ALL\n")
    // __names anchors every expected variant (r10 ADVICE): a 0-row
    // generator still reports returned=0 / recall_ppm=0 instead of
    // vanishing from the group-by; precision_ppm is CASE-guarded to NULL
    // at returned=0 on both sides (ANSI Spark errors on div-by-zero)
    val names = variants.map { case (n, _) => s"('$n')" }.mkString(", ")
    s"""WITH ${lead}__exact AS (SELECT $ka, $kb FROM (
       |$exactSql
       |) __x),
       |__tot AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM __exact),
       |__names AS (SELECT * FROM (VALUES $names) __n(variant)),
       |__u AS (
       |$u),
       |__g0 AS (SELECT __u.variant,
       |  CAST(count(*) AS BIGINT) AS returned,
       |  CAST(sum(CASE WHEN __e.$ka IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS hits
       |  FROM __u LEFT JOIN __exact __e
       |    ON __u.$ka = __e.$ka AND __u.$kb = __e.$kb
       |  GROUP BY __u.variant),
       |__g AS (SELECT __names.variant,
       |  COALESCE(returned, CAST(0 AS BIGINT)) AS returned,
       |  COALESCE(hits, CAST(0 AS BIGINT)) AS hits
       |  FROM __names LEFT JOIN __g0 ON __names.variant = __g0.variant)
       |SELECT variant, returned, hits, n_exact,
       |  CAST(CASE WHEN n_exact = 0 THEN NULL
       |       ELSE hits * 1000000 // n_exact END AS BIGINT) AS recall_ppm,
       |  CAST(CASE WHEN returned = 0 THEN NULL
       |       ELSE hits * 1000000 // returned END AS BIGINT) AS precision_ppm
       |FROM __g CROSS JOIN __tot ORDER BY variant""".stripMargin
  }

  /** ann_recall / dedup_pair_recall entries, present once every member
    * oracle is (the ANN members need their fitted-constant stashes). */
  private def qualityReports(m: Map[String, String]): Map[String, String] = {
    val ann = Seq("ivf" -> "ann_ivf", "ivfpq" -> "ann_ivfpq",
      "lsh" -> "ann_lsh", "lsh_multiprobe" -> "ann_lsh_multiprobe",
      "pq" -> "ann_pq", "sq8" -> "ann_sq8", "truncate" -> "ann_truncate")
    val dedup = Seq("minhash_band" -> "dedup_minhash_pairs",
      "simhash_band64" -> "dedup_simhash_lsh64",
      "winnow" -> "dedup_winnow_pairs")
    val annEntry =
      if ((ann.map(_._2) :+ "ann_topk").forall(m.contains))
        Map("ann_recall" -> qualityReportOracle(m("ann_topk"),
          ann.map { case (n, k) => n -> m(k) }, "q_id", "c_id"))
      else Map.empty[String, String]
    val dedupEntry =
      if ((dedup.map(_._2) :+ "dedup_prefix_join").forall(m.contains))
        Map("dedup_pair_recall" -> qualityReportOracle(m("dedup_prefix_join"),
          dedup.map { case (n, k) => n -> m(k) }, "doc_a", "doc_b"))
      else Map.empty[String, String]
    // the banded members restrict to the exact scan's vec_id < 300
    // quadratic-bounding domain so the comparison is pair-for-pair. The
    // plane-literal SIGNATURE stage (the ~70 KB dot-chain expressions the
    // standalone member oracles inline) is stated ONCE as a shared
    // domain-bounded CTE and the three variants restate only their gate
    // predicate + verify chain over it — textually the same generated
    // fragments as the standalone oracles (shared builders), but the
    // giant expressions bind once: the r12 ×10 sweep proved DuckDB's
    // optimizer OOMs when three full member statements (and their three
    // copies of the literal chains) sit in one composed query, even with
    // every member domain-bounded and individually cheap.
    val embEntry =
      if (Seq("emb_dup_pairs", "emb_dup_lsh", "emb_dup_lsh_legacy",
          "emb_dup_lsh_wide").forall(m.contains)) {
        import graft.ops.Similarity.{NumBands, BitsPerBand, WideNumBands}
        // AS MATERIALIZED is load-bearing: DuckDB otherwise INLINES the
        // CTE at each of its six join references, and six copies of the
        // plane-literal expression tree × executor threads exhausted
        // memory at replica scale (measured r12: OOM at ×10 inlined,
        // 7–8 s at ×10 AND ×30 materialized — corpus-independent, as a
        // 300-vector-bounded report should be)
        val sigCte =
          s"""__sig AS MATERIALIZED (SELECT vec_id, e, nrm,
             |  CAST($lshBucketTerms AS INT) AS bucket,
             |  $wideKeyCols
             |  FROM (SELECT vec_id, e, ${dotChain("e", "e")} AS nrm
             |        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
             |              FROM embeddings WHERE vec_id < 300) __e) __n)"""
            .stripMargin
        val mask = (1 << BitsPerBand) - 1
        val narrowCollide = (0 until NumBands).map { j =>
          s"((a.bucket >> ${j * BitsPerBand}) & $mask) = " +
            s"((c.bucket >> ${j * BitsPerBand}) & $mask)"
        }.mkString(" OR ")
        val wideCollide = (0 until WideNumBands)
          .map(j => s"a.wb$j = c.wb$j").mkString(" OR ")
        val mpCollide = (0 until WideNumBands)
          .map(j => s"bit_count(CAST(xor(a.wb$j, c.wb$j) AS BIGINT)) <= 1")
          .mkString(" OR ")
        def gated(collide: String) =
          s"""SELECT id_a, id_b FROM (
             |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             |    round(${dotChain("a.e", "c.e")} / (sqrt(a.nrm) * sqrt(c.nrm)), 6) AS sim
             |  FROM __sig a JOIN __sig c
             |  ON a.vec_id < c.vec_id AND ($collide)) __p
             |WHERE sim >= 0.35""".stripMargin
        Map("emb_dup_recall" -> qualityReportOracle(m("emb_dup_pairs"),
          Seq("hyperplane_band_legacy" -> gated(narrowCollide),
            "hyperplane_band_wide" -> gated(wideCollide),
            "hyperplane_band_wide_mp" -> gated(mpCollide)),
          "id_a", "id_b", extraCtes = sigCte))
      } else Map.empty[String, String]
    annEntry ++ dedupEntry ++ embEntry
  }

  def sql: Map[String, String] = {
    import graft.ops.Similarity
    val m = base ++
      Map(
        "dedup_winnow_probe_indexed" -> base("dedup_winnow_probe"),
        // native interval merge join answers the same query as the binned
        // composition — shared oracle = native/composed/DuckDB 3-way check
        "q_range_join_native" -> base("q_range_join"),
        "dedup_incremental_indexed" -> base("dedup_incremental"),
        // the persisted-index probe answers the same question: bands and
        // shingles are pure functions of the train text, nothing fitted
        "corpus_contamination_fuzzy_indexed" -> base("corpus_contamination_fuzzy"),
        // the persisted perplexity gate scores under the SAME frozen count
        // tables the in-query variant derives (exact integers round-trip
        // parquet), against thresholds from the same standing sample
        "text_ppl_intake_indexed" -> base("text_ppl_intake"),
        "dedup_bloom_gate_indexed" -> base("dedup_bloom_gate"),
        // probing the persisted signature index answers the same question:
        // band keys under seeded-constant planes are position-independent
        "emb_dup_intake_indexed" -> base("emb_dup_intake"),
        // same contract for the phash index: the signature is a pure
        // function of the asset bytes, nothing fitted
        "mm_dup_intake_indexed" -> base("mm_dup_intake"),
        // and for the audio-signature index (same nothing-fitted family)
        "mm_audio_intake_indexed" -> base("mm_audio_intake"),
        // segment-merged postings must be byte-identical to the recompute
        "text_postings_indexed" -> base("text_postings")) ++
      Similarity.fittedIvfCentroids.map(cs => "ann_ivf" -> ivfOracle(cs)) ++
      // the indexed probe answers the same question under the INDEX's
      // frozen centroids — assignment under fixed centroids is the same
      // argmin whether it ran at build, append, or replay time
      Similarity.fittedIvfIndexCentroids.map(cs =>
        "ann_ivf_indexed" -> ivfOracle(cs)) ++
      Similarity.fittedIvfPq.map { case (cs, cbs) =>
        "ann_ivfpq" -> ivfpqOracle(cs, cbs) } ++
      // the indexed probe replays under the INDEX's frozen quantizers —
      // assignment + encode are pure functions of the vector given those,
      // so recomputing them from the embeddings table IS the index
      Similarity.fittedIvfPqIndex.map { case (cs, cbs) =>
        "ann_ivfpq_indexed" -> ivfpqOracle(cs, cbs) } ++
      Similarity.fittedSemCentroids.map(cs => "emb_semdedup" -> semOracle(cs)) ++
      Similarity.fittedPqCodebooks.map(cb => "ann_pq" -> pqOracle(cb)) ++
      graft.ops.EmbeddingStats.fittedPca.map { case (m, c, o) =>
        "emb_pca" -> pcaOracle(m, c, o) } ++
      graft.ops.EmbeddingStats.fittedWhiten.map { case (c, o, sc) =>
        "emb_whiten" -> whitenOracle(c, o, sc) } ++
      graft.ops.Bpe.fittedMerges.map(m => "text_bpe_encode" -> bpeEncodeOracle(m)) ++
      graft.ops.Bpe.fittedMerges.map(m => "text_bpe_fertility" -> bpeFertilityOracle(m)) ++
      graft.ops.QualityModel.fittedWeights.map(w => "quality_distill" -> qualityDistillOracle(w)) ++
      graft.ops.Corpus.fittedDsirLam.map(l => "corpus_dsir" -> dsirOracle(l)) ++
      graft.ops.Corpus.fittedDsirIntake.map { case (l, t) =>
        "corpus_dsir_intake" -> dsirIntakeOracle(l, t) } ++
      // the indexed probe runs under the PERSISTED model, which equals
      // the deterministic standing fit — identical replay
      graft.ops.Corpus.fittedDsirIntake.map { case (l, t) =>
        "corpus_dsir_intake_indexed" -> dsirIntakeOracle(l, t) } ++
      // the composed front door replays all four member gates in one
      // statement, under ITS run's stashed DSIR literals
      graft.ops.Corpus.fittedFrontDoor.map { case (l, t) =>
        "corpus_front_door" -> frontDoorOracle(l, t) } ++
      graft.ops.CollabEvents.savedModelPath.map(p =>
        "cf_als_score_saved" -> alsScoreSavedOracle(p))
    m ++ qualityReports(m)
  }
}
