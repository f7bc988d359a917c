package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-measuring retrieval quality: recall/precision reports of every
  * approximate candidate generator against its exact twin, as first-class
  * queries.
  *
  * A production pipeline doesn't just RUN approximate retrieval — it has to
  * justify the approximation. Band counts, probe widths, and codebook sizes
  * are tuned against exactly these two dashboards: "what fraction of the
  * true top-k / true near-dup pairs does the cheap path surface" (recall)
  * and "how much of what it surfaces is real" (precision). Both reports are
  * deterministic compositions of already-oracled queries, so unlike the
  * usual sampled recall estimate they carry a full DuckDB hash oracle.
  *
  * Scale shape: each member pipeline keeps its own 100 TB story (bounded
  * fits, banded candidates, broadcast quantizers); the report itself joins
  * id-pair sets whose size is ∝ k·queries or ∝ duplicate density — never
  * corpus size — and the final aggregate is |variants| rows.
  * [[dedupPairRecall]] embeds the exact prefix-join ground truth, so at
  * replica scale it inherits that member's output-quadratic cost and rides
  * the same scalecheck ×3 sweep as the rest of the exact pair family.
  *
  * Ratios are reported in exact integer parts-per-million (BIGINT div —
  * the float-sum rule: no IEEE accumulation crosses the engine boundary).
  */
object RetrievalQuality {

  /** (variant, returned, hits, n_exact, recall_ppm, precision_ppm) for a
    * set of candidate-pair generators vs one exact ground-truth pair set.
    * `exact` and each variant expose id columns `ka`, `kb`. The one-row
    * exact count joins by crossJoin (broadcast of a single aggregate row),
    * and ppm ratios use integer `div` so both engines compute the same
    * BIGINT — no driver-side collect anywhere.
    *
    * Every variant NAME is anchored by a left join onto a literal frame of
    * the expected names (r10 ADVICE): a generator that returns zero rows
    * would otherwise vanish from the report (its union leg contributes no
    * group), and a dashboard consumer would misread "fully broken" as "not
    * measured". A 0-row variant now reports returned=0, hits=0,
    * recall_ppm=0 and NULL precision_ppm — guarded by an explicit CASE on
    * both sides (ANSI Spark raises DIVIDE_BY_ZERO where DuckDB's `//`
    * returns NULL, so the guard is what keeps the engines aligned). The
    * same CASE guards recall_ppm against an EMPTY ground-truth set
    * (n_exact = 0 → NULL recall on both engines) — the other denominator
    * of the same divergence (r11 ADVICE). */
  private[graft] def qualityReport(exact: DataFrame,
      variants: Seq[(String, DataFrame)], ka: String, kb: String): DataFrame = {
    // the exact ground truth is consumed TWICE (the hit join and the
    // n_exact count) and is the expensive side of every dashboard
    // (brute-force top-k, the exact prefix join, the exact cosine scan) —
    // checkpoint it so Spark computes it once, not once per consumer
    // (r13 verdict #1b: ann_recall re-ran brute force inside both the
    // join and the total). The checkpointed frame is pair-set-sized
    // (∝ k·queries or duplicate density), never corpus-sized.
    val e = exact.select(col(ka), col(kb)).withColumn("__hit", lit(1))
      .localCheckpoint()
    val u = variants
      .map { case (n, df) => df.select(lit(n).as("variant"), col(ka), col(kb)) }
      .reduce(_ union _)
    val names = variants
      .map { case (n, _) => exact.sparkSession.range(1).select(lit(n).as("variant")) }
      .reduce(_ union _)
    val g = u.join(e, Seq(ka, kb), "left")
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("returned"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"))
    val tot = e.agg(count(lit(1)).as("n_exact"))
    names.join(g, Seq("variant"), "left").crossJoin(tot)
      .withColumn("returned", coalesce(col("returned"), lit(0L)))
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .select(col("variant"), col("returned"), col("hits"), col("n_exact"),
        expr("CASE WHEN n_exact = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE hits * CAST(1000000 AS BIGINT) div n_exact END")
          .as("recall_ppm"),
        expr("CASE WHEN returned = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE hits * CAST(1000000 AS BIGINT) div returned END")
          .as("precision_ppm"))
      .orderBy(col("variant"))
  }

  /** Recall@k of every ANN variant against the exact brute-force top-k
    * ([[Similarity.bruteForceTopK]]), over the same (q_id, c_id) result
    * contract all variants share. Top-k variants return ≤ k rows per query
    * (LSH can return fewer when buckets are sparse), so `returned` ≤
    * `n_exact` and precision ≥ recall by construction.
    *
    * Cost contract: the ground truth and every variant frame are
    * session-memoized ([[Caching.memo]]) — this row measures GRADING
    * cost; each member's standalone registry row keeps the recompute
    * cost, and whichever of member/dashboard runs first in a session
    * pays the cold decode (BENCH.md round 14 discloses the
    * order-dependence). */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    // ground truth is session-memoized (Caching.memo): within one
    // session the bench/user runs ann_brute AND this dashboard, and the
    // deterministic exact frame is identical — this row then measures
    // the GRADING cost; the ground-truth recompute stays measured in
    // ann_brute's own row (r13 verdict #1b)
    val exact = Caching.memo(s, s"annRecall.exact:$dir")(
      Similarity.bruteForceTopK(s, dir))
    // the variant frames are memoized the same way (r13 verdict #1b:
    // "let the dashboards reuse their members' cached frames
    // in-session") — each variant's standalone registry row keeps its
    // own recompute cost
    def v(name: String)(f: => DataFrame): (String, DataFrame) =
      name -> Caching.memo(s, s"annRecall.v.$name:$dir")(f)
    val variants = Seq(
      v("ivf")(Similarity.ivfTopK(s, dir)),
      v("ivfpq")(Similarity.ivfPqTopK(s, dir)),
      v("lsh")(Similarity.lshTopK(s, dir)),
      v("lsh_multiprobe")(Similarity.lshTopKMultiProbe(s, dir)),
      v("pq")(Similarity.pqTopK(s, dir)),
      v("sq8")(Similarity.sq8TopK(s, dir)),
      v("truncate")(Similarity.truncatedTopK(s, dir)))
    qualityReport(exact, variants, "q_id", "c_id")
  }

  /** Recall/precision of the banded near-dup candidate generators against
    * the exact prefix-join pair set at its own threshold
    * ([[Dedup.prefixJoinPairs]], Jaccard ≥ 0.3 over 48-bit shingle hashes —
    * the lossless AllPairs ground truth).
    *
    * Each generator targets its OWN similarity notion — MinHash bands
    * verify word-shingle Jaccard ≥ 0.5, SimHash bands verify Hamming ≤ 2,
    * winnowing counts shared fingerprints — so precision against the ≥ 0.3
    * ground truth reads as a cross-metric diagnostic ("how well does this
    * cheap signal predict true set overlap"), which is precisely the
    * comparison a curation team runs before picking the production
    * generator.
    *
    * Cost contract: ground truth + variants are session-memoized
    * ([[Caching.memo]]) — this row measures grading cost; the members'
    * standalone rows keep the recompute cost (order-dependent within a
    * session, BENCH.md round 14). */
  def dedupPairRecall(s: SparkSession, dir: String): DataFrame = {
    // session-memoized for the same reason as [[annRecall]]'s exact side
    // (dedup_prefix_join's own row keeps the recompute cost)
    val exact = Caching.memo(s, s"dedupPairRecall.exact:$dir")(
      Dedup.prefixJoinPairs(s, dir))
    def v(name: String)(f: => DataFrame): (String, DataFrame) =
      name -> Caching.memo(s, s"dedupPairRecall.v.$name:$dir")(f)
    val variants = Seq(
      v("minhash_band")(Dedup.minhashPairsRaw(Tables.documents(s, dir))),
      v("simhash_band64")(Dedup.simhashLshPairs64(s, dir)),
      v("winnow")(TextAnalysis.winnowPairs(s, dir)))
    qualityReport(exact, variants, "doc_a", "doc_b")
  }

  /** Recall/precision of the hyperplane-band candidate generators against
    * the exact cosine near-dup scan ([[Similarity.cosineDupPairs]]) — the
    * embedding-space member of the dashboard family (annRecall: top-k
    * retrieval; dedupPairRecall: text near-dup; this: embedding near-dup).
    * Both sides restrict to the exact scan's vec_id < 300 domain (its
    * quadratic-bounding knob), so the comparison is pair-for-pair on
    * identical inputs. Precision < 1 here would mean a verification bug —
    * band candidates are verified by the same exact cosine threshold — so
    * the report doubles as a cross-check of the banded pipeline's verify
    * stage.
    *
    * Row names track the r13 default re-point: `hyperplane_band_wide_mp`
    * is THE `emb_dup_lsh` query's geometry; the dominated original
    * 4×4-bit geometry reports as `hyperplane_band_legacy` (the preserved
    * A/B baseline — BENCH.md round-12 table).
    *
    * Cost contract: ground truth + variants are session-memoized
    * ([[Caching.memo]]) — this row measures grading cost; the members'
    * standalone rows keep the recompute cost (order-dependent within a
    * session, BENCH.md round 14). */
  def embDupRecall(s: SparkSession, dir: String): DataFrame = {
    // session-memoized (emb_dup_pairs_exact keeps the recompute cost)
    val exact = Caching.memo(s, s"embDupRecall.exact:$dir")(
      Similarity.cosineDupPairs(s, dir))
    // domain restriction goes INSIDE the band pipeline (collision is a
    // two-vector property, so the restricted run emits exactly the
    // unrestricted pairs with both ids in domain) — filtering the full
    // operator's output would recompute the whole corpus's
    // output-quadratic pair set for a constant-size slice
    val legacy = Caching.memo(s, s"embDupRecall.v.legacy:$dir")(
      Similarity.cosineDupLsh(s, dir, Similarity.BandGeometry.Legacy,
        maxId = Some(300L)))
    val wide = Caching.memo(s, s"embDupRecall.v.wide:$dir")(
      Similarity.cosineDupLsh(s, dir, Similarity.BandGeometry.Wide,
        maxId = Some(300L)))
    val wideMp = Caching.memo(s, s"embDupRecall.v.wide_mp:$dir")(
      Similarity.cosineDupLsh(s, dir,
        Similarity.BandGeometry.WideMultiProbe, maxId = Some(300L)))
    qualityReport(exact,
      Seq("hyperplane_band_legacy" -> legacy, "hyperplane_band_wide" -> wide,
        "hyperplane_band_wide_mp" -> wideMp),
      "id_a", "id_b")
  }

  /** Recall/precision of the multimodal perceptual-hash candidate
    * generator ([[Multimodal.mmDupPairs]]) against the exact L1 near-dup
    * scan at the same threshold — the fourth dashboard member (annRecall:
    * top-k retrieval; dedupPairRecall: text near-dup; embDupRecall:
    * embedding near-dup; this: decoded-asset near-dup). Both sides share
    * the exact scan's bounded asset_id < 300 domain; precision < 1 would
    * mean a verify bug, same contract as [[embDupRecall]].
    *
    * Cost contract: ground truth + variants are session-memoized
    * ([[Caching.memo]]) — this row measures grading cost; the members'
    * standalone rows keep the recompute cost (order-dependent within a
    * session, BENCH.md round 14). */
  def mmDupRecall(s: SparkSession, dir: String): DataFrame = {
    // qualityReport checkpoints the exact side itself, and each variant
    // appears exactly once in the union — so the mm operators' live
    // decode plans run once per member with no extra materialization
    // pass here (the pre-r14 outer checkpoints doubled the decode work)
    val exact = Caching.memo(s, s"mmDupRecall.exact:$dir")(
      Multimodal.mmDupPairsExact(s, dir))
    val probe = Caching.memo(s, s"mmDupRecall.v.probe:$dir")(
      Multimodal.mmDupPairs(s, dir, maxId = Some(300L)))
    qualityReport(exact, Seq("phash_probe" -> probe), "id_a", "id_b")
  }

  /** Recall/precision of the audio fingerprint candidate generator
    * ([[AudioDedup.audioDupPairs]]) against the exact integer-L1 scan at
    * the same threshold — the fifth dashboard member (the audio twin of
    * [[mmDupRecall]]). Both sides share the exact scan's bounded
    * asset_id < 300 domain; precision < 1 would mean a verify bug, same
    * contract as the other pair dashboards.
    *
    * Cost contract: ground truth + variants are session-memoized
    * ([[Caching.memo]]) — this row measures grading cost; the members'
    * standalone rows keep the recompute cost (order-dependent within a
    * session, BENCH.md round 14). */
  def audioDupRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = Caching.memo(s, s"audioDupRecall.exact:$dir")(
      AudioDedup.audioDupPairsExact(s, dir))
    val probe = Caching.memo(s, s"audioDupRecall.v.probe:$dir")(
      AudioDedup.audioDupPairs(s, dir, maxId = Some(300L)))
    // the ANCHORED variant (r15 verdict #4) grades against its OWN exact
    // scan — aligned and anchored signature spaces are different ground
    // truths, so one report per truth, unioned into one dashboard
    val exactA = Caching.memo(s, s"audioDupRecall.exactAnchored:$dir")(
      AudioDedup.audioDupPairsAnchoredExact(s, dir))
    val probeA = Caching.memo(s, s"audioDupRecall.v.probeAnchored:$dir")(
      AudioDedup.audioDupPairsAnchored(s, dir, maxId = Some(300L)))
    qualityReport(exact, Seq("wav_fp_probe" -> probe), "id_a", "id_b")
      .unionByName(qualityReport(exactA,
        Seq("wav_fp_probe_anchored" -> probeA), "id_a", "id_b"))
      .orderBy(col("variant"))
  }
}
