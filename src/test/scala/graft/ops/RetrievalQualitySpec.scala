package graft.ops

import graft.SparkSpec
import graft.ops.Similarity.BandGeometry
import org.apache.spark.sql.DataFrame

/** RetrievalQuality's reports re-derived driver-side: collect the member
  * pair sets and redo hits/recall/precision with plain Scala set + integer
  * arithmetic — an implementation-independent check of the distributed
  * join/agg (the DuckDB oracle then re-proves the same rows end to end). */
class RetrievalQualitySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def pairSet(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(a, b).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .toSet

  private def reportMap(df: DataFrame)
      : Map[String, (Long, Long, Long, Long, Long)] =
    df.collect().map { r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    }.toMap

  private def check(report: Map[String, (Long, Long, Long, Long, Long)],
      exact: Set[(Long, Long)], variants: Map[String, Set[(Long, Long)]])
      : Unit = {
    assert(report.keySet == variants.keySet)
    for ((name, got) <- variants) {
      val hits = got.count(exact.contains).toLong
      val (returned, h, nExact, recall, precision) = report(name)
      assert(returned == got.size.toLong, s"$name returned")
      assert(h == hits, s"$name hits")
      assert(nExact == exact.size.toLong, s"$name n_exact")
      assert(recall == hits * 1000000L / exact.size, s"$name recall_ppm")
      assert(precision == hits * 1000000L / got.size, s"$name precision_ppm")
    }
  }

  test("annRecall equals an independent driver-side set recompute") {
    val report = reportMap(RetrievalQuality.annRecall(spark, dir))
    val exact = pairSet(Similarity.bruteForceTopK(spark, dir), "q_id", "c_id")
    val variants = Map(
      "ivf" -> Similarity.ivfTopK(spark, dir),
      "ivfpq" -> Similarity.ivfPqTopK(spark, dir),
      "lsh" -> Similarity.lshTopK(spark, dir),
      "lsh_multiprobe" -> Similarity.lshTopKMultiProbe(spark, dir),
      "pq" -> Similarity.pqTopK(spark, dir),
      "sq8" -> Similarity.sq8TopK(spark, dir),
      "truncate" -> Similarity.truncatedTopK(spark, dir)
    ).map { case (n, df) => n -> pairSet(df, "q_id", "c_id") }
    check(report, exact, variants)
    // multi-probe explores a candidate superset of single-probe LSH, so
    // its recall can only be at least as high
    assert(report("lsh_multiprobe")._4 >= report("lsh")._4)
    // top-k variants return at most k rows per query
    variants.foreach { case (n, got) =>
      assert(got.size <= exact.size, s"$n returned more than exact top-k") }
  }

  test("dedupPairRecall equals an independent driver-side set recompute") {
    val report = reportMap(RetrievalQuality.dedupPairRecall(spark, dir))
    val exact = pairSet(Dedup.prefixJoinPairs(spark, dir), "doc_a", "doc_b")
    val variants = Map(
      "minhash_band" ->
        Dedup.minhashPairsRaw(Tables.documents(spark, dir)),
      "simhash_band64" -> Dedup.simhashLshPairs64(spark, dir),
      "winnow" -> TextAnalysis.winnowPairs(spark, dir)
    ).map { case (n, df) => n -> pairSet(df, "doc_a", "doc_b") }
    check(report, exact, variants)
  }

  test("embDupRecall equals an independent driver-side set recompute; " +
      "band precision is exact by construction") {
    import org.apache.spark.sql.functions.col
    val report = reportMap(RetrievalQuality.embDupRecall(spark, dir))
    val exact = pairSet(Similarity.cosineDupPairs(spark, dir), "id_a", "id_b")
    val lsh = pairSet(Similarity.cosineDupLsh(spark, dir, BandGeometry.Legacy)
      .filter(col("id_a") < 300 && col("id_b") < 300), "id_a", "id_b")
    val wide = pairSet(Similarity.cosineDupLsh(spark, dir, BandGeometry.Wide)
      .filter(col("id_a") < 300 && col("id_b") < 300), "id_a", "id_b")
    val wideMp = pairSet(
      Similarity.cosineDupLsh(spark, dir, BandGeometry.WideMultiProbe)
      .filter(col("id_a") < 300 && col("id_b") < 300), "id_a", "id_b")
    check(report, exact,
      Map("hyperplane_band_legacy" -> lsh, "hyperplane_band_wide" -> wide,
        "hyperplane_band_wide_mp" -> wideMp))
    // band candidates are verified by the SAME exact cosine threshold the
    // ground truth uses, so every returned pair must be a true pair —
    // under EVERY geometry (no subset relation between default and wide
    // though: wide bands 2..7 use planes the default never sees)
    assert(report("hyperplane_band_legacy")._5 == 1000000L)
    assert(report("hyperplane_band_wide")._5 == 1000000L)
    assert(report("hyperplane_band_wide_mp")._5 == 1000000L)
    assert(report("hyperplane_band_wide")._1 > 0L,
      "wide geometry should still surface pairs at sf0.001")
    // probing a superset of candidates can only raise recall
    assert(report("hyperplane_band_wide_mp")._4 >=
      report("hyperplane_band_wide")._4)
  }

  test("mmDupRecall equals an independent driver-side set recompute; " +
      "phash precision is exact by construction") {
    val report = reportMap(RetrievalQuality.mmDupRecall(spark, dir))
    val exact = pairSet(Multimodal.mmDupPairsExact(spark, dir), "id_a", "id_b")
    val probe = pairSet(Multimodal.mmDupPairs(spark, dir, maxId = Some(300L)),
      "id_a", "id_b")
    check(report, exact, Map("phash_probe" -> probe))
    // probe candidates verify by the SAME L1 threshold the ground truth
    // uses, so precision must be exactly 1
    assert(report("phash_probe")._5 == 1000000L)
    assert(report("phash_probe")._1 > 0L,
      "phash probe should surface pairs at sf0.001")
  }

  test("audioDupRecall equals an independent driver-side set recompute; " +
      "audio precision is exact by construction") {
    val report = reportMap(RetrievalQuality.audioDupRecall(spark, dir))
    val exact = pairSet(AudioDedup.audioDupPairsExact(spark, dir),
      "id_a", "id_b")
    val probe = pairSet(AudioDedup.audioDupPairs(spark, dir,
      maxId = Some(300L)), "id_a", "id_b")
    // each variant grades against its OWN exact scan (aligned and
    // anchored signature spaces are different ground truths), so check
    // per-truth with the report filtered to that family's row
    check(report.filter(_._1 == "wav_fp_probe"), exact,
      Map("wav_fp_probe" -> probe))
    val exactA = pairSet(AudioDedup.audioDupPairsAnchoredExact(spark, dir),
      "id_a", "id_b")
    val probeA = pairSet(AudioDedup.audioDupPairsAnchored(spark, dir,
      maxId = Some(300L)), "id_a", "id_b")
    check(report.filter(_._1 == "wav_fp_probe_anchored"), exactA,
      Map("wav_fp_probe_anchored" -> probeA))
    // probe candidates verify by the SAME integer L1 threshold their
    // ground truth uses, so precision must be exactly 1 in both families
    assert(report("wav_fp_probe")._5 == 1000000L)
    assert(report("wav_fp_probe_anchored")._5 == 1000000L)
  }

  test("a zero-row variant is reported explicitly (returned=0, recall 0, " +
      "NULL precision), not dropped from the report (r10 ADVICE)") {
    import spark.implicits._
    val exact = Seq((1L, 2L), (3L, 4L)).toDF("ka", "kb")
    val ok = Seq((1L, 2L), (5L, 6L)).toDF("ka", "kb")
    val broken = Seq.empty[(Long, Long)].toDF("ka", "kb")
    val rows = RetrievalQuality
      .qualityReport(exact, Seq("ok" -> ok, "broken" -> broken), "ka", "kb")
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("broken", "ok"))
    val b = rows.find(_.getString(0) == "broken").get
    assert(b.getLong(1) == 0L && b.getLong(2) == 0L) // returned, hits
    assert(b.getLong(3) == 2L)                       // n_exact
    assert(b.getLong(4) == 0L)                       // recall_ppm
    assert(b.isNullAt(5))                            // precision: 0-div NULL
    val o = rows.find(_.getString(0) == "ok").get
    assert((o.getLong(1), o.getLong(2), o.getLong(4), o.getLong(5)) ==
      ((2L, 1L, 500000L, 500000L)))
  }
}
