package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector math over `Array[Float]` embedding columns, expressed with
  * codegen'd higher-order functions (zip_with/transform/aggregate) — no
  * UDFs, no driver-side loops. Floats are cast to double before any math so
  * results are bit-identical to the left-associated DuckDB oracle chains. */
object VectorOps {
  val Dim = 64

  /** Left-fold dot product of two array<double> columns. */
  def dotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), cast(0 AS DOUBLE), (acc, x) -> acc + x)"

  /** Left-fold squared L2 norm. */
  def norm2Expr(a: String): String =
    s"aggregate(transform($a, x -> x * x), cast(0 AS DOUBLE), (acc, x) -> acc + x)"
}

/** Similarity search over the `embeddings` table.
  *
  * Scale design: brute-force cosine top-k is the exact baseline — O(|Q|·N)
  * with the query side broadcast, so the big side streams once with no
  * shuffle. The LSH path (random hyperplane signatures, banded buckets)
  * turns all-pairs search into bucket joins: candidates ∝ collisions, not
  * N², and the verify step only scores collisions. An IVF variant would
  * replace the hyperplanes with k-means centroids (ml.KMeans) + nprobe.
  */
object Similarity {
  import VectorOps._

  val NumPlanes = 16
  val NumBands = 4
  val BitsPerBand: Int = NumPlanes / NumBands

  /** Harness defaults, shared with the oracle generator (OracleSql's
    * literal-centroid replays) so the constants can never drift between
    * the engine queries and their oracles. */
  val AnnK = 5
  val AnnQueries = 5
  val IvfCells = 16
  val IvfProbe = 4
  val SemEps = 0.35
  val PqM = 8
  val PqCodes = 16
  val PqRerank = 50
  val Sq8Levels = 255
  val Sq8Rerank = 50

  /** Seeded random hyperplanes (deterministic: java.util.Random spec). */
  val planes: IndexedSeq[Array[Double]] = {
    val rnd = new java.util.Random(7L)
    IndexedSeq.fill(NumPlanes)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  /** WIDE band geometry for the near-dup pair join: 8 bands × 8-bit keys
    * (64 planes) instead of the default 4 × 4-bit. The r10 ×30 measurement
    * showed WHY this exists: with 4-bit keys a band has only 16 distinct
    * values, so at 150k duplicate-dense vectors every bucket holds ~9k
    * vectors and the pre-distinct collision scan is ~10⁹ rows — the scan
    * floor that made even the candidate cap a net runtime LOSS. 8-bit keys
    * give 256 values per band: an unrelated pair (p ≈ 0.5 per plane)
    * collides per band at 2⁻⁸ instead of 2⁻⁴, cutting the random-collision
    * floor ~16× per band (~8× net with twice the bands), while a true
    * near-dup pair (sign agreement p = 1 − θ/π per plane) still collides
    * in ≥1 of 8 bands with high probability at dup-grade similarity.
    * The price is recall near the 0.35 threshold — measured honestly as
    * the `hyperplane_band_wide` variant row in
    * [[graft.ops.RetrievalQuality.embDupRecall]] — which is the classic
    * LSH band/width tradeoff, tuned HERE for the dedup use (high-sim
    * pairs) where the default tunes for breadth. The operator over this
    * geometry is [[cosineDupLsh]] under [[BandGeometry.Wide]] (query
    * `emb_dup_lsh_wide`).
    * Same seed and draw order as [[planes]], so the first 16 wide planes
    * ARE the default planes (one fewer constant family to audit). */
  val WideNumBands = 8
  val WideBitsPerBand = 8
  val WideNumPlanes: Int = WideNumBands * WideBitsPerBand
  val widePlanes: IndexedSeq[Array[Double]] = {
    val rnd = new java.util.Random(7L)
    IndexedSeq.fill(WideNumPlanes)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  /** One hyperplane-LSH band gate: `bands` keys of `bitsPerBand` sign bits
    * each, band j over planes j·bitsPerBand until (j+1)·bitsPerBand of
    * [[widePlanes]] (whose first 16 ARE [[planes]]). `multiProbe` widens
    * the per-band gate from key equality to keys at most one bit apart. */
  final class BandGeometry private (val bands: Int, val bitsPerBand: Int,
      val multiProbe: Boolean)

  /** The only geometries: the constructor is private. */
  object BandGeometry {
    /** 4 × 4-bit exact keys: `emb_dup_lsh_legacy`, `ann_lsh` and the
      * packed `ann_lsh_buckets`. */
    val Legacy: BandGeometry =
      new BandGeometry(NumBands, BitsPerBand, multiProbe = false)
    /** 4 × 4-bit keys with one-bit-flip probes: `ann_lsh_multiprobe`. */
    val LegacyMultiProbe: BandGeometry =
      new BandGeometry(NumBands, BitsPerBand, multiProbe = true)
    /** 8 × 8-bit exact keys: `emb_dup_lsh_wide` and the vector intake gate. */
    val Wide: BandGeometry =
      new BandGeometry(WideNumBands, WideBitsPerBand, multiProbe = false)
    /** 8 × 8-bit keys with one-bit-flip probes: the default `emb_dup_lsh`. */
    val WideMultiProbe: BandGeometry =
      new BandGeometry(WideNumBands, WideBitsPerBand, multiProbe = true)
  }

  /** Fitted quantizer constants, stashed when the ANN/SemDeDup queries run
    * so the oracle generator ([[graft.OracleSql]]) can export them as SQL
    * literals — the same replay trick as the seeded hyperplane constants,
    * except these constants come from a fit, so they're captured at query
    * time (Verify runs every query BEFORE dumping oracle_sql.json). Only
    * the k-means fit itself stays outside the oracle; assignment, probe
    * ranking, ADC scoring, and rerank are deterministic given these. */
  @volatile private[graft] var fittedIvfCentroids: Option[IndexedSeq[Array[Double]]] = None
  @volatile private[graft] var fittedSemCentroids: Option[IndexedSeq[Array[Double]]] = None
  @volatile private[graft] var fittedPqCodebooks: Option[IndexedSeq[Array[Array[Double]]]] = None
  @volatile private[graft] var fittedIvfIndexCentroids: Option[IndexedSeq[Array[Double]]] = None
  @volatile private[graft] var fittedIvfPq: Option[(IndexedSeq[Array[Double]], IndexedSeq[Array[Array[Double]]])] = None
  @volatile private[graft] var fittedIvfPqIndex: Option[(IndexedSeq[Array[Double]], IndexedSeq[Array[Array[Double]]])] = None

  /** The centroid matrix as one literal array<array<double>> column. */
  private def matrixLit(centroids: IndexedSeq[Array[Double]]) =
    array(centroids.map(c => array(c.map(v => lit(v)): _*)): _*)

  /** Nearest-centroid assignment over LITERAL centroids via the native
    * fused [[graft.functions.VecArgminCells]] expression — first-minimum
    * argmin with every distance the (e·e − 2·e·c) + c·c left-fold chain,
    * so the DuckDB oracle replays the assignment bit-for-bit from the
    * exported constants. ml's KMeansModel.transform would be numerically
    * equivalent but not REPLAYABLE (fastSquaredDistance's internal order
    * isn't a left fold); at 100 TB this is also the cheaper path — one
    * codegen projection, no ml pipeline on the full corpus. */
  private[graft] def assignCells(df: DataFrame,
      centroids: IndexedSeq[Array[Double]]): DataFrame =
    df.withColumn("cell",
      call_function("argmin_cells", col("e"), matrixLit(centroids)))

  /** Deterministic ~1/step sample for bounded quantizer fits that does NOT
    * assume dense/contiguous vec_ids (r5 ADVICE): rate comes from a pmod of
    * the engine-portable 48-bit hash of the id, so sparse or strided id
    * spaces sample at the same rate as dense ones. Falls back to the full
    * frame when the realized sample is too small for the downstream fit
    * (k-means `require(n >= k)`). */
  private def hashSample(df: DataFrame, step: Long, minRows: Long): DataFrame =
    if (step <= 1L) df
    else {
      val h = graft.functions.SharedHash.spark48("cast(vec_id AS string)")
      val sampled = df.filter(expr(s"pmod($h, $step)") === 0)
      if (sampled.count() >= minRows) sampled else df
    }

  /** All vector math below uses the native codegen vec_dot expression; its
    * accumulation order is bit-identical to the HOF fold and the oracle's
    * term chain (see VecDotImpl), so oracle hash-matches are preserved. */
  private[graft] def embeddedOf(raw: DataFrame): DataFrame = {
    graft.functions.VecDot.register(raw.sparkSession)
    graft.functions.VecArgmin.register(raw.sparkSession)
    raw
      .withColumn("e", expr("cast(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("nrm", expr("vec_dot(e, e)"))
  }

  private def embedded(s: SparkSession, dir: String): DataFrame =
    embeddedOf(Tables.embeddings(s, dir))

  /** Exact cosine top-k: for each query vector (vec_id < numQueries), the k
    * nearest neighbors by cosine similarity. The query side is broadcast;
    * ordering uses the rounded similarity so ties break identically in the
    * oracle. */
  def bruteForceTopK(s: SparkSession, dir: String, k: Int = 5,
      numQueries: Int = 5): DataFrame = {
    val e = embedded(s, dir)
    val q = e.select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
      .filter(col("q_id") < numQueries)
    val c = e.select(col("vec_id").as("c_id"), col("e").as("ce"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .withColumn("sim", round(
        expr("vec_dot(qe, ce)") / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Matryoshka-style truncated-dimension ANN (the retrieval recipe from
    * Kusupati et al. 2022, "Matryoshka Representation Learning": rank
    * cheaply on a low-dimensional PREFIX of the embedding, then rerank the
    * shortlist with the full vector). Coarse pass: cosine over the first
    * `headDims` dims → top-`candidates` per query; fine pass: exact
    * full-dim cosine over the shortlist only → top-`k`.
    *
    * Plan shape is the point: the coarse window shuffle carries only
    * (c_id, 16-dim head, head norm) — at 100 TB the head is a separate
    * narrow column (or the leading bytes of the vector column), so the
    * scan reads ¼ of the flops AND ¼ of the bytes of brute force; the
    * 64-dim vectors are fetched by the rerank join for ~`candidates`
    * rows per query, never scanned twice. Query side broadcast both
    * passes. Deterministic: coarse shortlist ties break on (rounded
    * sim16, c_id), so the oracle replays the exact same shortlist. */
  def truncatedTopK(s: SparkSession, dir: String, k: Int = 5,
      numQueries: Int = 5, headDims: Int = 16,
      candidates: Int = 100): DataFrame = {
    graft.functions.VecDot.register(s)
    truncatedTopKOf(Tables.embeddings(s, dir), k, numQueries, headDims,
      candidates)
  }

  /** Core of [[truncatedTopK]] over any (vec_id, embedding) frame. */
  def truncatedTopKOf(raw: DataFrame, k: Int = 5, numQueries: Int = 5,
      headDims: Int = 16, candidates: Int = 100): DataFrame = {
    graft.functions.VecDot.register(raw.sparkSession)
    val e = raw
      .withColumn("e", expr("cast(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("nrm", expr("vec_dot(e, e)"))
      .withColumn("h", expr(s"slice(e, 1, $headDims)"))
      .withColumn("hn", expr("vec_dot(h, h)"))
      .cache()
    e.count() // force: coarse + two rerank legs would re-derive the slice

    val qh = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("h").as("qh"), col("hn").as("qhn"))
    val ch = e.select(col("vec_id").as("c_id"), col("h").as("ch"),
      col("hn").as("chn"))
    val wCoarse = Window.partitionBy(col("q_id"))
      .orderBy(col("sim16").desc, col("c_id").asc)
    val shortlist = broadcast(qh).join(ch, col("q_id") =!= col("c_id"))
      .withColumn("sim16", round(
        expr("vec_dot(qh, ch)") / (sqrt(col("qhn")) * sqrt(col("chn"))), 6))
      .withColumn("crnk", row_number().over(wCoarse))
      .filter(col("crnk") <= candidates)
      .select(col("q_id"), col("c_id"))

    val qf = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
    val cf = e.select(col("vec_id").as("c_id"), col("e").as("ce"),
      col("nrm").as("cn"))
    val wFine = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    val out = shortlist.join(cf, "c_id").join(broadcast(qf), "q_id")
      .withColumn("sim", round(
        expr("vec_dot(qe, ce)") / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
      .withColumn("rnk", row_number().over(wFine))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rnk"))
    graft.ops.Caching.materializeAndRelease(out, e)
  }

  /** Per-dimension (min, max) over the corpus — the SQ8 quantizer fit.
    * Unlike the k-means fits this is a DETERMINISTIC aggregate (min/max
    * SELECT stored values; no IEEE accumulation order to replay), so
    * [[sq8TopK]] carries a FULL DuckDB oracle that re-derives the
    * quantizer itself in SQL — the only quantized ANN member with no
    * stashed-literal step. posexplode + groupBy(dim) combines map-side:
    * the shuffle is 64 rows per upstream partition whatever the corpus
    * size, and the collect is exactly 64 rows (a bounded driver readout,
    * same budget class as the k-means centroids). */
  private[graft] def sq8Fit(e: DataFrame): (Array[Double], Array[Double]) = {
    val rows = e.select(posexplode(col("e")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy(col("dim")).collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** SQ8 encode + reconstruct: `code[d] = round((v[d]−mn[d])/sc[d])` with
    * `sc[d] = (mx[d]−mn[d])/255` (one byte per dimension — the FAISS
    * `SQ8` scalar quantizer), reconstruction `r[d] = code[d]·sc[d]+mn[d]`.
    * `code` is the 100 TB artifact: 64 ints here (a production sink packs
    * them to BINARY — 16× smaller than the float64 vector, 4× smaller
    * than float32); `r`/`rn` are computed FROM the codes so the scoring
    * plan reads only codes + two broadcast 64-double constant arrays.
    * All arithmetic is plain IEEE doubles in the same association on both
    * engines (round's args are ≥ 0, where HALF_UP ≡ half-away-from-zero),
    * so the oracle replays codes and reconstruction bit-for-bit. A
    * degenerate dimension (mx = mn → sc = 0) encodes as code 0 and
    * reconstructs to mn on both sides. */
  private[graft] def sq8Encoded(e: DataFrame, mns: Array[Double],
      mxs: Array[Double]): DataFrame = {
    val scales = mns.indices
      .map(d => (mxs(d) - mns(d)) / Sq8Levels.toDouble).toArray
    val mnLit = array(mns.map(lit(_)): _*)
    val scLit = array(scales.map(lit(_)): _*)
    e.withColumn("code",
        zip_with(zip_with(col("e"), mnLit, (v, m) => v - m), scLit,
          (d, sc) => when(sc === 0d, lit(0))
            .otherwise(round(d / sc).cast("int"))))
      .withColumn("r",
        zip_with(zip_with(col("code"), scLit, (c, sc) => c * sc), mnLit,
          (x, m) => x + m))
      .withColumn("rn", expr("vec_dot(r, r)"))
  }

  /** Scalar-quantized (SQ8) ANN: asymmetric scoring of the float query
    * against int8-reconstructed candidates, then exact rerank of the top
    * `rerank` — the fifth ANN family member and the simplest
    * memory-bound-scan trick (codes are 4× smaller than float32 payloads,
    * so the full-corpus ADC pass reads ¼ the bytes of brute force at the
    * same flop shape; PQ compresses 4× further but pays a codebook fit).
    * Everything — fit, encode, ADC, rerank — is deterministic, so unlike
    * IVF/PQ this quantized variant hash-checks against a fully
    * self-contained oracle.
    *
    * With `labelFiltered` the candidate scan keeps only vectors sharing
    * the query's `label` — filtered vector search, the vector-DB staple
    * (predicate + ANN in one plan). The filter lands INSIDE the scan-side
    * join condition, before any scoring work: at 100 TB with a selective
    * predicate the ADC pass prunes to the matching fraction (and with a
    * label-partitioned code table it would prune at the file level —
    * PartitionFilters, same story as the IVF cell index). */
  def sq8TopK(s: SparkSession, dir: String, k: Int = AnnK,
      numQueries: Int = AnnQueries, rerank: Int = Sq8Rerank,
      labelFiltered: Boolean = false): DataFrame = {
    val e = embedded(s, dir).cache()
    val (mns, mxs) = sq8Fit(e)
    val enc = sq8Encoded(e, mns, mxs)
      .select(col("vec_id").as("c_id"), col("label").as("c_label"),
        col("r").as("cr"), col("rn").as("crn"))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("e").as("qe"), col("nrm").as("qn"))
    val joinCond =
      if (labelFiltered)
        col("q_id") =!= col("c_id") && col("q_label") === col("c_label")
      else col("q_id") =!= col("c_id")
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_sim").desc, col("c_id").asc)
    val cands = broadcast(q).join(enc, joinCond)
      .withColumn("adc_sim", round(
        expr("vec_dot(qe, cr)") / (sqrt(col("qn")) * sqrt(col("crn"))), 6))
      .withColumn("crnk", row_number().over(wAdc))
      .filter(col("crnk") <= rerank)
      .select(col("q_id"), col("qe"), col("qn"), col("c_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    val out = cands
      .join(e.select(col("vec_id").as("c_id"), col("e").as("ce"),
        col("nrm").as("cn")), "c_id")
      .withColumn("sim", round(
        expr("vec_dot(qe, ce)") / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rnk"))
    Caching.materializeAndRelease(out, e)
  }

  /** Label-filtered ANN as its own harness query (`ann_filtered`): the
    * [[sq8TopK]] quantized scan with the query's label pushed into the
    * candidate join. See sq8TopK's scaladoc for the pruning story. */
  def filteredTopK(s: SparkSession, dir: String, k: Int = AnnK,
      numQueries: Int = AnnQueries, rerank: Int = Sq8Rerank): DataFrame =
    sq8TopK(s, dir, k, numQueries, rerank, labelFiltered = true)

  /** `g`'s band keys as int columns `wb0, wb1, …`, each from the sign
    * bits of its band's planes. Keys stay unpacked: no 64-bit bucket whose
    * signed shifts would have to stay aligned across engines (bit 63 of a
    * packed BIGINT is the sign bit in both Spark and DuckDB). Literal
    * plane arrays, native vec_dot, a CASE-sum per key, zero UDFs, all in
    * one projection (r16: was one withColumn per plane and per key — same
    * plan after optimization, quadratic analyzer cost before it). */
  private def withBandKeys(e: DataFrame, g: BandGeometry): DataFrame = {
    val keyCols = (0 until g.bands).map { j =>
      val bits = (0 until g.bitsPerBand).map { b =>
        val i = j * g.bitsPerBand + b
        when(call_function("vec_dot", col("e"),
          array(widePlanes(i).map(v => lit(v)): _*)) > 0, 1 << b).otherwise(0)
      }
      bits.reduce(_ + _).as(s"wb$j")
    }
    e.select(col("*") +: keyCols: _*)
  }

  private def bandKeyCols(g: BandGeometry): Seq[Column] =
    (0 until g.bands).map(j => col(s"wb$j"))

  /** The exact and probe band streams of a frame carrying `g`'s key
    * columns, each row `carry ++ (band, key)`. The exact stream has one
    * row per band; under multiprobe the probe stream adds each key's
    * `bitsPerBand` one-bit-flip neighbours (otherwise it IS the exact
    * stream). An equi-join of probe × exact on (band, key) is the band
    * gate: `hamming(ka, kb) ≤ 1 ⟺ kb ∈ {ka} ∪ {ka ^ 2^i}`, so probing one
    * side covers the symmetric ≤1-bit condition. */
  private def bandStreams(df: DataFrame, g: BandGeometry,
      carry: Seq[String]): (DataFrame, DataFrame) = {
    val exact = (0 until g.bands).map { j =>
      struct(lit(j).as("band"), col(s"wb$j").as("key"))
    }
    def exploded(structs: Seq[Column]) =
      df.select(carry.map(col) :+ explode(array(structs: _*)).as("b"): _*)
        .select(carry.map(col) ++
          Seq(col("b.band").as("band"), col("b.key").as("key")): _*)
    val exactStream = exploded(exact)
    if (!g.multiProbe) (exactStream, exactStream)
    else (exactStream, exploded((0 until g.bands).flatMap { j =>
      exact(j) +: (0 until g.bitsPerBand).map { b =>
        struct(lit(j).as("band"),
          (col(s"wb$j").bitwiseXOR(lit(1 << b))).as("key"))
      }
    }))
  }

  /** The deterministic LSH bucket assignment (vec_id → 16-bit hyperplane
    * sign bucket: [[BandGeometry.Legacy]]'s four band keys packed, band j
    * in bits 4j..4j+3) — the candidate-generation stage of [[lshTopK]]
    * exposed as its own query. The hyperplanes are seeded constants and
    * vec_dot is a left fold, so the bucket math is exactly
    * SQL-expressible: the DuckDB oracle recomputes every sign bit from
    * literal plane coefficients, hash-checking the stage that makes the
    * ANN path approximate. The keys come from [[withBandKeys]], the
    * builder every band gate uses; the oracle's per-plane bits weighted
    * 2^i are the same number, since plane 4j+b is bit b of band j. */
  def lshBuckets(s: SparkSession, dir: String): DataFrame = {
    val g = BandGeometry.Legacy
    withBandKeys(embedded(s, dir), g)
      .select(col("vec_id"), bandKeyCols(g).zipWithIndex
        .map { case (k, j) => shiftleft(k, j * g.bitsPerBand) }
        .reduce(_ + _).as("bucket"))
      .orderBy(col("vec_id"))
  }

  /** Approximate cosine top-k: hyperplane-LSH candidates (any shared band)
    * verified by exact cosine. Same output shape as bruteForceTopK so
    * recall is directly measurable (see SimilaritySpec). */
  def lshTopK(s: SparkSession, dir: String, k: Int = 5,
      numQueries: Int = 5): DataFrame =
    lshTopKOver(s, dir, BandGeometry.Legacy, k, numQueries)

  /** Multi-probe LSH top-k: each query probes its own band key AND every
    * key at hamming distance 1 within the band (bit-flip probes) — the
    * standard trick for recovering recall without adding hyperplanes,
    * since a near-neighbor that disagrees on ONE plane of a band is the
    * most likely miss. Candidate generation stays an EQUI-join (the probe
    * keys are enumerated on the tiny query side: ×(1+bitsPerBand) rows,
    * broadcast); the corpus-side band index is untouched — the shape that
    * scales. Fully deterministic like [[lshTopK]], so the oracle checks
    * it end-to-end via the equivalent hamming≤1 band condition. */
  def lshTopKMultiProbe(s: SparkSession, dir: String, k: Int = 5,
      numQueries: Int = 5): DataFrame =
    lshTopKOver(s, dir, BandGeometry.LegacyMultiProbe, k, numQueries)

  private def lshTopKOver(s: SparkSession, dir: String, g: BandGeometry,
      k: Int, numQueries: Int): DataFrame = {
    val e = withBandKeys(embedded(s, dir), g)
    val (exact, probe) = bandStreams(e, g, Seq("vec_id", "e", "nrm"))
    val q = probe.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("band"), col("key"))
    val c = exact.select(col("vec_id").as("c_id"), col("e").as("ce"),
      col("nrm").as("cn"), col("band"), col("key"))

    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    broadcast(q).join(c, Seq("band", "key"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("qe"), col("qn"), col("c_id"), col("ce"), col("cn"))
      .distinct()
      .withColumn("sim", round(
        expr("vec_dot(qe, ce)") / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Bounded-sample seeded coarse-quantizer fit. A coarse quantizer needs
    * rough cells, not convergence — cap sweeps and train on a
    * deterministic BOUNDED sample (~8k vectors): centroids are statistics
    * of the distribution, so at corpus scale the fit cost must not grow
    * with N (assignment still touches every vector, but that's one codegen
    * projection). The fit itself runs DRIVER-SIDE through the same seeded
    * [[lloyd]] the PQ codebooks use — the r13 extension of pqTopK's
    * measured lesson (8 ml.KMeans fits ≈ 5 s of pure job-scheduling
    * overhead at sf0.1 vs ~0 in-process on the identical sample); on a
    * ≤8k-point sample a distributed fit buys nothing, and one k-means
    * implementation now serves every quantizer in the file. */
  private[graft] def fitIvfCentroids(e: DataFrame,
      nCells: Int = IvfCells): IndexedSeq[Array[Double]] = {
    val step = math.max(1L, e.count() / 8000L)
    val pts = hashSample(e, step, nCells)
      .select(col("e")).collect().map(_.getSeq[Double](0).toArray)
    lloyd(pts, nCells, iters = 5, seed = 42L).toIndexedSeq
  }

  /** The IVF probe half over an already-assigned (vec_id, e, nrm, cell)
    * frame: rank cells per query by centroid distance, take the `nProbe`
    * nearest, score candidates in those cells only, exact top-k.
    *
    * `pruneCells = true` additionally pushes the probed-cell set (bounded:
    * numQueries × nProbe ids, collected driver-side) into a static
    * `cell IN (...)` filter — when `assigned` is a parquet index
    * PARTITIONED BY cell ([[graft.sources.IndexStore.buildAnn]]), that
    * filter is partition pruning: only probed inverted lists are read,
    * the scan-side shape IVF exists for. Semantics are unchanged (the
    * probe join gates the same rows); only the scan narrows. */
  private def ivfProbeTopK(assigned: DataFrame,
      centroidArrays: IndexedSeq[Array[Double]], k: Int, numQueries: Int,
      nProbe: Int, pruneCells: Boolean = false): DataFrame =
    ivfProbeQueries(
      assigned.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("q_id"), col("e").as("qe"),
          col("nrm").as("qn")),
      assigned, centroidArrays, k, nProbe, pruneCells)

  /** Flat-IVF probe of an EXPLICIT query frame `(q_id, qe, qn)` against an
    * assigned cells frame under frozen centroids — the building block
    * shared by the harness probes (queries drawn from the corpus, where
    * `selfExclude=true` drops the trivial self-match) and the streaming
    * vector intake sink (queries = the incoming micro-batch — pass
    * `selfExclude=false` there: incoming ids are from a DIFFERENT id
    * space, and an incoming vec_id that happens to collide with a
    * standing vec_id must not silently drop that legitimate standing
    * neighbor). */
  private[graft] def ivfProbeQueries(q: DataFrame, assigned: DataFrame,
      centroidArrays: IndexedSeq[Array[Double]], k: Int,
      nProbe: Int, pruneCells: Boolean = false,
      selfExclude: Boolean = true): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    graft.functions.VecDot.register(s)
    val centroids = centroidArrays.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cell", "centroid")
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("dist2").asc, col("cell").asc)
    val probes = broadcast(q).crossJoin(broadcast(centroids))
      .withColumn("dist2",
        expr("vec_dot(qe, qe) - 2 * vec_dot(qe, centroid) + vec_dot(centroid, centroid)"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("qe"), col("qn"), col("cell"))

    val cands =
      if (!pruneCells) assigned
      else {
        val probed = probes.select(col("cell")).distinct()
          .collect().map(_.getInt(0)).toSeq // ≤ numQueries × nProbe values
        assigned.filter(col("cell").isin(probed: _*))
      }
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    broadcast(probes)
      .join(cands.withColumnRenamed("vec_id", "c_id")
        .withColumnRenamed("e", "ce").withColumnRenamed("nrm", "cn"), Seq("cell"))
      .filter(if (selfExclude) col("q_id") =!= col("c_id") else lit(true))
      .withColumn("sim", round(
        expr("vec_dot(qe, ce)") / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** IVF (inverted-file) approximate top-k: k-means coarse quantizer (seeded
    * ml.KMeans), vectors assigned to their nearest centroid, queries probe
    * the `nProbe` nearest cells and score only those candidates. The
    * centroid count scales with √N; candidates per query drop from N to
    * ~N·nProbe/nCells — the standard billion-vector recipe. This variant
    * fits + assigns in-query; [[ivfTopKIndexed]] probes the PERSISTED
    * standing index instead — the form a 100 TB deployment runs. */
  def ivfTopK(s: SparkSession, dir: String, k: Int = AnnK,
      numQueries: Int = AnnQueries, nCells: Int = IvfCells,
      nProbe: Int = IvfProbe): DataFrame = {
    val e = embedded(s, dir).cache()
    val centroidArrays = fitIvfCentroids(e, nCells)
    fittedIvfCentroids = Some(centroidArrays)
    val assigned = assignCells(e, centroidArrays)
      .select(col("vec_id"), col("e"), col("nrm"), col("cell"))
    val out = ivfProbeTopK(assigned, centroidArrays, k, numQueries, nProbe)
    Caching.materializeAndRelease(out, e)
  }

  /** [[ivfTopK]] probing the persisted standing ANN index
    * ([[graft.sources.IndexStore.standingAnnIndex]]): centroids were
    * FROZEN at build time, every vector (standing + appended deltas) is
    * already assigned in the cell-partitioned parquet index, so the query
    * does no fit and no corpus-wide assignment — it ranks 16 centroids,
    * reads the probed cell partitions, and scores ~N·nProbe/nCells
    * candidates. The output contract matches the literal-centroid replay
    * oracle exactly: assignment under frozen centroids is the same
    * argmin wherever it runs (build, append, or oracle). */
  def ivfTopKIndexed(s: SparkSession, dir: String, k: Int = AnnK,
      numQueries: Int = AnnQueries, nProbe: Int = IvfProbe): DataFrame = {
    val (centroidArrays, cells) =
      graft.sources.IndexStore.standingAnnIndex(s, dir)
    fittedIvfIndexCentroids = Some(centroidArrays)
    graft.functions.VecDot.register(s)
    ivfProbeTopK(cells, centroidArrays, k, numQueries, nProbe,
      pruneCells = true)
  }

  /** Embedding near-dup pairs at scale: hyperplane-LSH band keys under
    * `geometry` gate the exact cosine verify, so candidates ∝ band
    * collisions instead of n² — the scale path [[cosineDupPairs]]'s doc
    * promises. Unlike the top-k ANN path this whole operator is
    * deterministic: the key bits come from seeded-constant planes, so the
    * DuckDB oracle recomputes them from literal plane coefficients and
    * applies the same ≥1-band gate — the emitted pair set is hash-checked
    * end to end. (Recall vs the ungated exact scan is a measured property
    * in SimilaritySpec and the [[graft.ops.RetrievalQuality.embDupRecall]]
    * rows, not part of the correctness contract.) The three geometries:
    *   - [[BandGeometry.Legacy]] (`emb_dup_lsh_legacy`): 4 × 4-bit keys
    *     hit a measured collision floor on duplicate-dense corpora (×30:
    *     1004 s vs wide multiprobe's 336.7 s at LOWER recall — BENCH.md
    *     r12 A/B; the candidate cap RAISED runtime 36% because the floor
    *     is the scan itself), so it is no longer the default.
    *   - [[BandGeometry.Wide]] (`emb_dup_lsh_wide`): 8 × 8-bit keys, 256
    *     values per band, drop the random-collision floor ~16× per band
    *     (see [[widePlanes]]), paying recall near the 0.35 threshold.
    *   - [[BandGeometry.WideMultiProbe]] (`emb_dup_lsh`, the default): a
    *     pair is a candidate when some band's keys differ by ≤ 1 bit. The
    *     left stream carries the one-bit-flip probes, the right stays
    *     exact; the oracle states the symmetric form directly via
    *     `bit_count(xor(..)) ≤ 1`. Per-band collision probability rises
    *     from p⁸ to p⁸ + 8·p⁷(1−p) — a large recall gain at dup-grade
    *     agreement rates — while a random pair's per-band rate is 9/256,
    *     still well under the legacy geometry's 1/16.
    *
    * `maxId` restricts the pair domain BEFORE band generation. A pair's
    * collision is a property of its two vectors alone (seeded-constant
    * planes), so restricting first emits exactly the pairs of the
    * unrestricted run with both ids under the bound — but skips the
    * out-of-domain collision pairs entirely, which matters on
    * duplicate-dense corpora where the full pair set grows
    * output-quadratically ([[graft.ops.RetrievalQuality.embDupRecall]]
    * needs only the exact scan's bounded domain: filtering AFTER this
    * operator's checkpoint would pay the full 15× replica cost for a
    * constant-size slice). */
  def cosineDupLsh(s: SparkSession, dir: String, geometry: BandGeometry,
      threshold: Double = 0.35, maxId: Option[Long] = None,
      maxCandidatesPerDoc: Option[Int] = None): DataFrame = {
    val restricted = maxId.foldLeft(embedded(s, dir))(
      (df, m) => df.filter(col("vec_id") < m))
    val e = withBandKeys(restricted, geometry)
      .select(col("vec_id") +: col("e") +: col("nrm") +:
        bandKeyCols(geometry): _*).cache()
    val nVecs = e.count()
              // force: the bands scan + two verify joins are concurrent
              // consumers — unmaterialized, each would recompute the
              // embed+plane-dot pipeline itself
    val (exact, probe) = bandStreams(e, geometry, Seq("vec_id"))
    bandVerifiedPairs(e, nVecs, probe, exact, threshold, maxCandidatesPerDoc)
  }

  /** Incremental embedding near-dup intake — the vector twin of
    * [[graft.ops.Dedup.incrementalDedup]]'s text triage: arriving (delta)
    * vectors are checked against the standing corpus through the WIDE
    * band gate, and each delta vector reports how many standing near-dups
    * it has (`n_near`) plus a `near`/`novel` verdict. The delta split is
    * the same engine-portable 48-bit hash residue the text family uses
    * (`pmod(hash48(vec_id), 10) = 9` ≙ DuckDB `% 10 = 9`), so the whole
    * operator — split, band keys from literal planes, bipartite collision
    * gate, exact cosine verify, verdict — is deterministic and carries a
    * full hash oracle.
    *
    * Scale shape: the join is BIPARTITE (delta × standing, no standing ×
    * standing leg), so cost is O(|delta| · collisions-per-band-key) — the
    * wide geometry's 256-value band keys keep collision lists short where
    * the 4×4-bit geometry floored — and the verify joins ride the same
    * ≤250k-vector broadcast rule as the pair operators: vectors never
    * enter a shuffle at dimension-table sizes. At 100 TB the standing
    * side's band keys would live in a persisted signature index (the
    * exact pattern [[graft.sources.IndexStore]] establishes for
    * prefix/digest/ANN), making intake O(delta) against frozen keys;
    * assignment under seeded-constant planes is the same sign pattern
    * wherever it is computed, so the recompute-in-query form here and an
    * indexed probe share one output contract. */
  def cosineDupIntake(s: SparkSession, dir: String,
      threshold: Double = 0.35): DataFrame = {
    val (incRaw, exRaw) = embDeltaSplit(Tables.embeddings(s, dir))
    graft.functions.VecDot.register(s)
    intakeVerdicts(wideSigOf(incRaw), wideSigOf(exRaw), threshold)
  }

  /** [[cosineDupIntake]] probing the PERSISTED wide-band signature index
    * ([[graft.sources.IndexStore.standingSigIndex]]) instead of
    * recomputing the standing side's keys: per-batch work is
    * O(delta × collisions) INCLUDING the standing side — the standing
    * embeddings table is never rescanned (spec-asserted via `inputFiles`).
    * Band keys under seeded-constant planes are the same sign pattern
    * wherever they are computed (build, append, or in-query), so the
    * output is byte-identical to the recompute form and SHARES its
    * oracle. */
  def cosineDupIntakeIndexed(s: SparkSession, dir: String,
      threshold: Double = 0.35): DataFrame = {
    val (incRaw, _) = embDeltaSplit(Tables.embeddings(s, dir))
    graft.functions.VecDot.register(s)
    intakeVerdicts(wideSigOf(incRaw),
      graft.sources.IndexStore.standingSigIndex(s, dir), threshold)
  }

  /** (vec_id, e, nrm, wb0..wb7) wide-band signature frame over a raw
    * embeddings frame — the unit the in-query intake computes and the
    * persisted signature index stores. */
  private[graft] def wideSigOf(raw: DataFrame): DataFrame =
    withBandKeys(embeddedOf(raw), BandGeometry.Wide)
      .select(col("vec_id") +: col("e") +: col("nrm") +:
        bandKeyCols(BandGeometry.Wide): _*)

  /** Residue-class delta split over an embeddings frame — the vector twin
    * of [[graft.ops.Dedup.deltaSplit]]: engine-portable 48-bit hash of the
    * id, residue 9 of 10 arrives, the rest stands. */
  private[graft] def embDeltaSplit(emb: DataFrame): (DataFrame, DataFrame) = {
    val h = graft.functions.SharedHash.spark48("cast(vec_id AS string)")
    val tagged = emb.withColumn("is_inc", expr(s"pmod($h, 10) = 9"))
    (tagged.filter(col("is_inc")).drop("is_inc"),
      tagged.filter(!col("is_inc")).drop("is_inc"))
  }

  /** Triage an arbitrary raw embeddings batch against a standing
    * signature frame — the per-batch body of the streaming intake sink
    * ([[graft.streaming.StreamingOps.sigIntakeBatch]]) and of
    * [[cosineDupIntakeIndexed]]. The result is MATERIALIZED
    * (localCheckpoint) before return, so a subsequent index append cannot
    * change what a caller's write sees. */
  def triageVectorsAgainstSig(batchRaw: DataFrame, standingSig: DataFrame,
      threshold: Double = 0.35): DataFrame = {
    graft.functions.VecDot.register(batchRaw.sparkSession)
    intakeVerdicts(wideSigOf(batchRaw), standingSig, threshold)
  }

  /** Shared triage dataflow over a delta and a standing signature frame —
    * however the standing side was obtained (computed in-query or read
    * from the persisted index). Both frames carry (vec_id, e, nrm,
    * wb0..wb7). */
  private def intakeVerdicts(incSig: DataFrame, exSig: DataFrame,
      threshold: Double): DataFrame = {
    val inc = incSig.cache(); val nInc = inc.count()
    val ex = exSig.cache(); val nEx = ex.count()
    def bandsOf(df: DataFrame) =
      bandStreams(df, BandGeometry.Wide, Seq("vec_id"))._1
    val cands = bandsOf(inc).as("x")
      .join(bandsOf(ex).as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.vec_id").as("inc_id"), col("y.vec_id").as("ex_id"))
      .distinct()
    def vecSide(df: DataFrame, n: Long, idCol: String, eCol: String,
        nCol: String) = {
      val side = df.select(col("vec_id").as(idCol), col("e").as(eCol),
        col("nrm").as(nCol))
      if (n <= 250000L) broadcast(side) else side
    }
    val near = cands
      .join(vecSide(inc, nInc, "inc_id", "e_a", "n_a"), "inc_id")
      .join(vecSide(ex, nEx, "ex_id", "e_b", "n_b"), "ex_id")
      .withColumn("sim", round(
        expr("vec_dot(e_a, e_b)") / (sqrt(col("n_a")) * sqrt(col("n_b"))), 6))
      .filter(col("sim") >= threshold)
      .groupBy(col("inc_id")).agg(count(lit(1)).as("n_near"))
      .withColumnRenamed("inc_id", "vec_id")
    val out = inc.select(col("vec_id"))
      .join(near, Seq("vec_id"), "left")
      .withColumn("n_near", coalesce(col("n_near"), lit(0L)))
      .withColumn("verdict",
        when(col("n_near") > 0, lit("near")).otherwise(lit("novel")))
      .orderBy(col("vec_id"))
    graft.ops.Caching.materializeAndRelease(out, inc, ex)
  }

  /** Candidate-gate → budget → exact-cosine-verify tail of
    * [[cosineDupLsh]]; `e` must be the CACHED embedded frame (vec_id, e,
    * nrm, …) and `left`/`right` its (vec_id, band, key) probe and exact
    * streams ([[bandStreams]]). Probes only on the left side still cover
    * the symmetric ≤1-bit gate under the `id_a < id_b` ordering, because
    * Hamming distance is symmetric — `ka ^ 2^i = kb ⟺ kb ^ 2^i = ka`, so
    * whichever side carries the flip finds the same pair. */
  private def bandVerifiedPairs(e: DataFrame, nVecs: Long, left: DataFrame,
      right: DataFrame, threshold: Double,
      maxCandidatesPerDoc: Option[Int]): DataFrame = {
    val cands0 = left.as("x").join(right.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    // the family's standard candidate budget (see prefixJoinPairsOf /
    // winnowPairs): the window ranks ids-only rows, the first c partners
    // per id_a survive, verify cosine work and output bound to O(c·n);
    // None (default) keeps the oracled exact-band semantics unchanged
    val cands = maxCandidatesPerDoc match {
      case None => cands0
      case Some(c) =>
        val w = Window.partitionBy(col("id_a")).orderBy(col("id_b"))
        cands0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= c).drop("__rn")
    }
    // Verify-join strategy: candidate count scales with bucket COLLISIONS
    // (quadratic in duplicate density), and a sort-merge plan would drag
    // each candidate row — with a ~0.5 KiB vector attached after leg one —
    // through two full shuffles: at a ×30 duplicate-dense replica that
    // intermediate spilled >70 GB and filled the disk. Up to ~250k vectors
    // (~130 MiB of payload) the embedded side is dimension-table-sized, so
    // broadcast it: candidates then stream through two map-side hash joins
    // and vectors never enter a shuffle. Past that bound fall back to
    // Catalyst's choice — on a real cluster the id-only pair shuffle is
    // the correct co-partitioned plan, it just needs cluster-sized spill.
    def vecSide(idCol: String, eCol: String, nCol: String) = {
      val side = e.select(col("vec_id").as(idCol), col("e").as(eCol),
        col("nrm").as(nCol))
      if (nVecs <= 250000L) broadcast(side) else side
    }
    val pairs = cands
      .join(vecSide("id_a", "e_a", "n_a"), "id_a")
      .join(vecSide("id_b", "e_b", "n_b"), "id_b")
      .withColumn("sim", round(
        expr("vec_dot(e_a, e_b)") / (sqrt(col("n_a")) * sqrt(col("n_b"))), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
      .orderBy(col("id_a"), col("id_b"))
    graft.ops.Caching.materializeAndRelease(pairs, e)
  }

  /** Embedding-cosine near-duplicate pairs over a bounded id range (exact,
    * oracle-able baseline); [[cosineDupLsh]] is the banded scale path. */
  def cosineDupPairs(s: SparkSession, dir: String, maxId: Long = 300,
      threshold: Double = 0.35): DataFrame = {
    val e = embedded(s, dir).filter(col("vec_id") < maxId)
      .select(col("vec_id"), col("e"), col("nrm"))
    e.toDF("id_a", "e_a", "n_a").join(e.toDF("id_b", "e_b", "n_b"),
        col("id_a") < col("id_b"))
      .withColumn("sim", round(
        expr("vec_dot(e_a, e_b)") / (sqrt(col("n_a")) * sqrt(col("n_b"))), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup by clustering the
    * embedding space with a coarse k-means quantizer, then deduplicating
    * WITHIN each cluster — cosine pairs above `eps` form groups (connected
    * components, reusing the MinHash clusters' machinery) and only each
    * group's min-id survives. The third member of the near-dup family:
    * lexical ([[graft.ops.Dedup]] MinHash), bucketed-exact
    * ([[cosineDupLsh]] hyperplanes), semantic (this — centroids adapt to
    * the data where hyperplanes are oblivious).
    *
    * Scale shape: IVF economics — pair generation is per-cell
    * (O(Σ|cell|²), the SemDeDup paper's own trick for web scale), the
    * centroid model is driver-small and broadcast into the assignment
    * projection, and the CC runs on the sparse above-eps graph only. The
    * seeded bounded-sample [[fitIvfCentroids]] fit makes the run
    * deterministic; the quantizer isn't SQL-expressible, so the harness
    * oracle replays the STASHED fitted centroids as literals (semOracle),
    * and the semantic invariants (keeper closure, within-cell recall vs
    * the exact scan) are additionally spec-asserted.
    */
  def semDedup(s: SparkSession, dir: String, nCells: Int = IvfCells,
      eps: Double = SemEps): DataFrame = {
    val e = embedded(s, dir).cache()
    // bounded-sample quantizer fit, same rationale as ivfTopK: the cell
    // structure is a distribution statistic; only assignment is O(N)
    val centroidArrays = fitIvfCentroids(e, nCells)
    fittedSemCentroids = Some(centroidArrays)
    val assigned = assignCells(e, centroidArrays)
      .select(col("vec_id"), col("e"), col("nrm"), col("cell")).cache()
    assigned.count() // multi-consumer: both pair sides + the final join

    val pairs = assigned.select(col("vec_id").as("id_a"), col("e").as("e_a"),
        col("nrm").as("n_a"), col("cell"))
      .join(assigned.select(col("vec_id").as("id_b"), col("e").as("e_b"),
        col("nrm").as("n_b"), col("cell")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(
        expr("vec_dot(e_a, e_b)") / (sqrt(col("n_a")) * sqrt(col("n_b"))), 6))
      .filter(col("sim") >= eps)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val comps = Dedup.connectedComponents(pairs) // (doc_id, cluster=min id)
    val out = assigned.select(col("vec_id"), col("cell"))
      .join(comps, assigned("vec_id") === comps("doc_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("cluster"), col("vec_id")).as("keeper"))
      .withColumn("kept", col("keeper") === col("vec_id"))
      .orderBy(col("vec_id"))
    Caching.materializeAndRelease(out, e, assigned)
  }

  /** Seeded in-process Lloyd's k-means over a bounded sample — the PQ
    * codebook trainer. Deterministic: seeded initial picks, fixed sweep
    * count, stable argmin tie-breaks (first minimum wins).
    *
    * `k` is clamped to the sample size: a corpus smaller than the
    * requested cell/code count fits one centroid per point instead of
    * throwing — the graceful-degradation contract the previous
    * ml.KMeans path provided (r13 ADVICE: tiny corpora must keep
    * returning a result from ivfTopK/semDedup, not an exception). An
    * EMPTY sample still fails loudly: quantizer codebooks are trained
    * statistics, and a silent zero-centroid fit would read as "no
    * neighbors" downstream (the EmptyInputSpec contract). */
  private[ops] def lloyd(pts: Array[Array[Double]], k0: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    require(pts.nonEmpty, "quantizer fit on an empty sample")
    val k = math.min(k0, pts.length)
    val dim = pts.head.length
    val rnd = new java.util.Random(seed)
    // seeded k-means++ init (D² sampling) — random init measurably costs
    // recall (0.36 vs 0.60 at sf0.001 in the PQ spec)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    val chosen = scala.collection.mutable.ArrayBuffer(
      pts(rnd.nextInt(pts.length)).clone())
    val minD = pts.map(p => d2(p, chosen.head))
    while (chosen.length < k) {
      val total = minD.sum
      var r = rnd.nextDouble() * total
      var pick = 0
      while (pick < pts.length - 1 && r > minD(pick)) { r -= minD(pick); pick += 1 }
      chosen += pts(pick).clone()
      var i = 0
      while (i < pts.length) {
        val d = d2(pts(i), chosen.last)
        if (d < minD(i)) minD(i) = d
        i += 1
      }
    }
    var centers = chosen.toArray
    var sweep = 0
    while (sweep < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = p(i) - centers(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      centers = (0 until k).map { c =>
        if (counts(c) == 0) centers(c) // empty cell keeps its centroid
        else sums(c).map(_ / counts(c))
      }.toArray
      sweep += 1
    }
    centers
  }

  /** Product-quantization ANN with asymmetric-distance scoring (ADC) —
    * the fourth member of the ANN family and the standard billion-vector
    * memory trick (Jégou et al. 2011): brute = exact baseline, LSH =
    * oblivious buckets, IVF = adaptive cells, PQ = compressed residency.
    *
    * The 64-dim space splits into `m`=8 subspaces of 8 dims; each gets a
    * seeded k-means codebook (`kCodes`=16), so a vector encodes to 8
    * one-byte codes — 32× smaller than its float payload. Queries never
    * decode candidates: a per-query lookup table (dot of the query
    * subvector against each centroid) turns the approximate dot product
    * into `m` array lookups. The top `rerank` PQ candidates are then
    * re-scored with the exact cosine, which restores recall (spec'd in
    * SimilaritySpec) while touching full vectors for only ~rerank rows
    * per query.
    *
    * Scale shape: codebooks are driver-small (m·k centroids) and ship as
    * literal columns; encoding is one map pass; the scoring join
    * broadcasts queries+LUTs so the code table streams with no shuffle;
    * only the rerank join reads full vectors. At 100 TB the code table is
    * the only full-corpus scan — the point of PQ. Seeded k-means is not
    * SQL-expressible → rows-only harness check (same rule as ann_ivf).
    */
  def pqTopK(s: SparkSession, dir: String, k: Int = AnnK,
      numQueries: Int = AnnQueries, m: Int = PqM, kCodes: Int = PqCodes,
      rerank: Int = PqRerank): DataFrame = {
    val subDim = Dim / m

    val e = embedded(s, dir).cache()
    // Per-subspace codebooks train driver-side on a deterministic,
    // BOUNDED sample (~4k subvectors = a few hundred KB however large the
    // corpus) — the FAISS recipe: codebooks are statistics of the
    // distribution, so a distributed fit buys nothing but 8× job
    // overhead (measured: 8 ml.KMeans fits cost ~5 s at sf0.1 vs ~0 for
    // the in-process Lloyd sweeps). Everything corpus-sized — encoding
    // and ADC scoring — stays distributed below.
    val withSubs = withSubCols(e.toDF(), m)
    val step = math.max(1L, e.count() / 4000L)
    val sampleRows = hashSample(withSubs, step, kCodes)
      .select((0 until m).map(j => col(s"sub_$j")): _*).collect()
    val codebooks: IndexedSeq[Array[Array[Double]]] = (0 until m).map { j =>
      val pts = sampleRows.map(_.getSeq[Double](j).toArray)
      lloyd(pts, kCodes, iters = 15, seed = 42L + j)
    }
    fittedPqCodebooks = Some(codebooks)

    // encode: nearest codebook entry per subspace via the fused native
    // argmin expression — one loop per subspace instead of kCodes literal
    // columns + three generic array-expression walks per row (no ml
    // transform chain, no UDFs); arithmetic is term-identical to the
    // oracle's (sub·sub − 2·sub·c) + c·c first-minimum chain
    val codes = withSubs
      .select(col("vec_id") +: col("nrm") +:
        (0 until m).map(j =>
          call_function("argmin_cells", col(s"sub_$j"),
            matrixLit(codebooks(j).toIndexedSeq)).as(s"code_$j")): _*)

    // query side: LUT_j[c] = dot(q_sub_j, centroid_{j,c}) in one
    // projection with the centroids inlined as literals ([[lutCols]])
    val q = withSubs.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id") +: col("e").as("qe") +:
        col("nrm").as("qn") +: lutCols(codebooks): _*)

    val adc = (0 until m).map(j =>
      element_at(col(s"lut_$j"), col(s"code_$j") + 1)).reduce(_ + _)
    val wPq = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_sim").desc, col("c_id").asc)
    val cands = broadcast(q)
      .crossJoin(codes.withColumnRenamed("vec_id", "c_id")
        .withColumnRenamed("nrm", "cn"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("adc_sim", adc / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("pq_rnk", row_number().over(wPq))
      .filter(col("pq_rnk") <= rerank)
      .select(col("q_id"), col("qe"), col("qn"), col("c_id"))

    // exact rerank of the surviving ~rerank rows per query
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    val out = cands
      .join(e.select(col("vec_id").as("c_id"), col("e").as("ce"),
        col("nrm").as("cn")), "c_id")
      .withColumn("sim", round(
        expr("vec_dot(qe, ce)") / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rnk"))
    Caching.materializeAndRelease(out, e)
  }

  /** IVF+PQ — the two halves composed into the actual billion-vector
    * recipe (Jégou et al. 2011; the FAISS `IVFx,PQy` default): the IVF
    * coarse quantizer gates WHICH vectors are scored (queries probe
    * `nProbe` of `nCells` cells), PQ's asymmetric-distance lookup scores
    * the gated candidates WITHOUT decoding them, and the top `rerank`
    * survivors get one exact pass. [[ivfTopK]] alone scores every vector
    * in probed cells at full width; [[pqTopK]] alone ADC-scans the whole
    * code table (compressed linear scan). Composed, the per-query cost is
    * ~(N·nProbe/nCells) one-byte-code lookups + `rerank` exact dots — the
    * only full-corpus work is the one-off encode.
    *
    * Scale shape: both quantizers are driver-small bounded-sample fits;
    * the code table carries (vec_id, cell, m codes, nrm) — no vectors;
    * queries + LUTs broadcast into an EQUI-join on cell (the gate that
    * [[pqTopK]]'s crossJoin lacks); only the rerank join touches full
    * vectors, for ~rerank rows per query. Everything downstream of the
    * two fits is deterministic, so the harness oracle replays assignment,
    * encode, gated ADC, and rerank from the stashed literals end-to-end.
    */
  def ivfPqTopK(s: SparkSession, dir: String, k: Int = AnnK,
      numQueries: Int = AnnQueries, nCells: Int = IvfCells,
      nProbe: Int = IvfProbe, m: Int = PqM, kCodes: Int = PqCodes,
      rerank: Int = PqRerank): DataFrame = {
    val subDim = Dim / m
    val e = embedded(s, dir).cache()

    // two bounded fits: coarse centroids (ml.KMeans on ~8k vectors) and
    // per-subspace codebooks (in-process Lloyd on ~4k subvectors)
    val centroidArrays = fitIvfCentroids(e, nCells)
    val withSubs = withSubCols(e.toDF(), m)
    val step = math.max(1L, e.count() / 4000L)
    val sampleRows = hashSample(withSubs, step, kCodes)
      .select((0 until m).map(j => col(s"sub_$j")): _*).collect()
    val codebooks: IndexedSeq[Array[Array[Double]]] = (0 until m).map { j =>
      val pts = sampleRows.map(_.getSeq[Double](j).toArray)
      lloyd(pts, kCodes, iters = 15, seed = 42L + j)
    }
    fittedIvfPq = Some((centroidArrays, codebooks))

    // one encode pass: cell assignment + m sub-codes, all fused argmins
    val coded = assignCells(withSubs, centroidArrays)
      .select(col("vec_id") +: col("nrm") +: col("cell") +:
        (0 until m).map(j =>
          call_function("argmin_cells", col(s"sub_$j"),
            matrixLit(codebooks(j).toIndexedSeq)).as(s"code_$j")): _*)

    // query side: probe the nProbe nearest cells AND carry the ADC LUTs
    import s.implicits._
    val centroids = centroidArrays.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cell", "centroid")
    val qLut = withSubs.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id") +: col("e").as("qe") +:
        col("nrm").as("qn") +: lutCols(codebooks): _*)
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("dist2").asc, col("cell").asc)
    val probes = broadcast(qLut).crossJoin(broadcast(centroids))
      .withColumn("dist2",
        expr("vec_dot(qe, qe) - 2 * vec_dot(qe, centroid) + vec_dot(centroid, centroid)"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .drop("centroid", "dist2", "pr")

    // gated ADC: equi-join on cell — candidates ∝ probed-cell occupancy
    val adc = (0 until m).map(j =>
      element_at(col(s"lut_$j"), col(s"code_$j") + 1)).reduce(_ + _)
    val wPq = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_sim").desc, col("c_id").asc)
    val cands = broadcast(probes)
      .join(coded.withColumnRenamed("vec_id", "c_id")
        .withColumnRenamed("nrm", "cn"), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("adc_sim", adc / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("pq_rnk", row_number().over(wPq))
      .filter(col("pq_rnk") <= rerank)
      .select(col("q_id"), col("qe"), col("qn"), col("c_id"))

    // exact rerank of the surviving ~rerank rows per query
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    val out = cands
      .join(e.select(col("vec_id").as("c_id"), col("e").as("ce"),
        col("nrm").as("cn")), "c_id")
      .withColumn("sim", round(
        expr("vec_dot(qe, ce)") / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rnk"))
    Caching.materializeAndRelease(out, e)
  }

  /** Sub-vector slice columns `sub_0..sub_{m-1}` — the shared pre-pass for
    * PQ codebook fits and encodes. A narrow codegen projection (one
    * select, not m chained withColumns). */
  private[graft] def withSubCols(df: DataFrame, m: Int = PqM): DataFrame = {
    val subDim = Dim / m
    df.select(col("*") +: (0 until m).map(j =>
      slice(col("e"), j * subDim + 1, subDim).as(s"sub_$j")): _*)
  }

  /** Query-side ADC lookup-table columns `lut_0..lut_{m-1}` over frozen
    * codebooks, as ONE projection with the centroid arrays inlined as
    * literals: LUT_j[c] = vec_dot(sub_j, codebook_{j,c}).
    *
    * r16: each of the three PQ query paths used to build m·kCodes = 128
    * chained withColumn literal-centroid columns (`cb_j_c`) and then a
    * select of string-SQL `vec_dot(sub_j, cb_j_c)` over them. The
    * optimizer collapses that chain into exactly this projection, but
    * analysis walks the whole growing plan once per withColumn — O(m²k²)
    * driver work per query construction (guide §7.3 "very large plans";
    * measured: ann_pq steady-state spent 1.6 s of 2.1 s OFF-job in the
    * driver). The evaluated expressions are term-identical, so outputs
    * and stashed-literal oracles are unchanged. */
  private def lutCols(
      cbs: IndexedSeq[Array[Array[Double]]]): Seq[org.apache.spark.sql.Column] =
    cbs.indices.map { j =>
      array(cbs(j).indices.map(c =>
        call_function("vec_dot", col(s"sub_$j"),
          array(cbs(j)(c).map(v => lit(v)): _*))): _*).as(s"lut_$j")
    }

  /** Per-subspace PQ codebooks from a deterministic BOUNDED sample (~4k
    * subvectors) — driver-side Lloyd, same rationale as [[pqTopK]]'s inline
    * fit: codebooks are statistics of the distribution, so a distributed
    * fit buys only job overhead. Used by the persisted standing index
    * ([[graft.sources.IndexStore.buildAnn]]), where the result is FROZEN:
    * appends and probes must encode under one codebook set, and staleness
    * costs quantization sharpness (probe precision), never correctness. */
  private[graft] def fitPqCodebooksOf(e: DataFrame, m: Int = PqM,
      kCodes: Int = PqCodes): IndexedSeq[Array[Array[Double]]] = {
    val withSubs = withSubCols(e.toDF(), m)
    val step = math.max(1L, e.count() / 4000L)
    val sampleRows = hashSample(withSubs, step, kCodes)
      .select((0 until m).map(j => col(s"sub_$j")): _*).collect()
    (0 until m).map { j =>
      lloyd(sampleRows.map(_.getSeq[Double](j).toArray), kCodes, iters = 15,
        seed = 42L + j)
    }
  }

  /** PQ-encode an assigned frame `(vec_id, e, nrm, cell, …)` under FROZEN
    * codebooks → `(vec_id, nrm, cell, code_0..code_{m-1})` via the fused
    * native argmin — one byte of payload per subspace, the row shape the
    * 100 TB ADC scan reads instead of full vectors. */
  private[graft] def encodePq(assigned: DataFrame,
      codebooks: IndexedSeq[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    graft.functions.VecArgmin.register(assigned.sparkSession)
    withSubCols(assigned, m).select(
      col("vec_id") +: col("nrm") +: col("cell") +:
        (0 until m).map(j =>
          call_function("argmin_cells", col(s"sub_$j"),
            matrixLit(codebooks(j).toIndexedSeq)).as(s"code_$j")): _*)
  }

  /** [[ivfPqTopK]] probing the PERSISTED standing index
    * ([[graft.sources.IndexStore.standingAnnPq]]) — the full
    * index-once-probe-forever form of the billion-vector recipe: centroids
    * AND codebooks were frozen at build time, every vector's cell + codes
    * are already materialized in cell-partitioned parquet, so the query
    * fits nothing and touches no full vectors until rerank. The probed
    * cell set is collected (≤ numQueries·nProbe ints) and pushed as a
    * static IN filter, so partition pruning reads only the probed
    * inverted lists of the CODES table (~N·nProbe/nCells one-byte-code
    * rows); the rerank join reads full vectors for ~rerank rows/query from
    * the cells table. Deterministic given the stored quantizers → the
    * literal-replay oracle hash-checks the whole chain. */
  def ivfPqTopKIndexed(s: SparkSession, dir: String, k: Int = AnnK,
      numQueries: Int = AnnQueries, nProbe: Int = IvfProbe,
      rerank: Int = PqRerank): DataFrame = {
    val (cs, cbs, codes, cells) = graft.sources.IndexStore.standingAnnPq(s, dir)
    fittedIvfPqIndex = Some((cs, cbs))
    graft.functions.VecDot.register(s)
    val m = cbs.length
    val kCodes = cbs.head.length
    import s.implicits._
    val centroids = cs.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cell", "centroid")

    // query side: full vectors from the cells table; LUT_j[c] = dot(sub_j,
    // codebook_{j,c}) materialized only for the numQueries rows, one
    // projection with inlined centroid literals ([[lutCols]])
    val qLut = withSubCols(cells.filter(col("vec_id") < numQueries), m)
      .select(col("vec_id").as("q_id") +: col("e").as("qe") +:
        col("nrm").as("qn") +: lutCols(cbs): _*)
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("dist2").asc, col("cell").asc)
    val probes = broadcast(qLut).crossJoin(broadcast(centroids))
      .withColumn("dist2",
        expr("vec_dot(qe, qe) - 2 * vec_dot(qe, centroid) + vec_dot(centroid, centroid)"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .drop("centroid", "dist2", "pr")

    // static probed-cell set → parquet PARTITION pruning on codes
    val probed = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ numQueries × nProbe values
    val gated = codes.filter(col("cell").isin(probed: _*))

    val adc = (0 until m).map(j =>
      element_at(col(s"lut_$j"), col(s"code_$j") + 1)).reduce(_ + _)
    val wPq = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_sim").desc, col("c_id").asc)
    val cands = broadcast(probes)
      .join(gated.withColumnRenamed("vec_id", "c_id")
        .withColumnRenamed("nrm", "cn"), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("adc_sim", adc / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("pq_rnk", row_number().over(wPq))
      .filter(col("pq_rnk") <= rerank)
      .select(col("q_id"), col("qe"), col("qn"), col("c_id"))

    // exact rerank of the surviving ~rerank rows per query, full vectors
    // fetched from the cells table only here
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    cands
      .join(cells.select(col("vec_id").as("c_id"), col("e").as("ce"),
        col("nrm").as("cn")), "c_id")
      .withColumn("sim", round(
        expr("vec_dot(qe, ce)") / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rnk"))
  }
}
