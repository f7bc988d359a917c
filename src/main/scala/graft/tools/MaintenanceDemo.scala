package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Tables
import graft.sources.IndexStore

/** Runnable evidence for the standing-index maintenance job — the
  * scheduled pipeline a 100 TB deployment runs between intake batches.
  * Builds the four metric-carrying artifacts (prefix index, ANN index,
  * BPE tokenizer, DSIR importance model) on a standing corpus, feeds
  * each a DRIFTED delta, prints every drift metric before/after, and
  * shows the threshold policies (`maintainPrefix`/`maintainAnn`/
  * `maintainBpe`/`maintainDsir`) declining on a fresh index and
  * triggering on a drifted one.
  * `sbt "runMain graft.tools.MaintenanceDemo [sfDir]"` */
object MaintenanceDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session()
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("maint").toString
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)

    // --- prefix index: dictionary drift --------------------------------
    val pfx = s"$base/prefix"
    IndexStore.buildPrefix(docs, pfx)
    println(f"prefix  drift fresh:   ${IndexStore.prefixFreqDrift(spark, pfx)}%.4f" +
      s"  maintain(0.2) -> ${IndexStore.maintainPrefix(spark, pfx, 0.2)}")
    val newVocab = (0 until 400).map(i =>
      (50000L + i, (0 until 40).map(j => s"zx${(i * 11 + j) % 120}").mkString(" ")))
      .toDF("doc_id", "text")
    IndexStore.writePrefix(newVocab, pfx, IndexStore.WriteMode.Append)
    val pd = IndexStore.prefixFreqDrift(spark, pfx)
    println(f"prefix  drift drifted: $pd%.4f" +
      s"  maintain(0.2) -> ${IndexStore.maintainPrefix(spark, pfx, 0.2)}" +
      f"  drift after: ${IndexStore.prefixFreqDrift(spark, pfx)}%.4f")

    // --- ANN index: cell-occupancy skew --------------------------------
    val ann = s"$base/ann"
    IndexStore.buildAnn(emb, ann)
    val o0 = IndexStore.annCellOccupancy(spark, ann)
    println(f"ann     skew fresh:    ${o0.skew}%.2f (max ${o0.maxCell} / mean ${o0.meanCell}%.1f)" +
      s"  maintain(x2) -> ${IndexStore.maintainAnn(spark, ann, o0.skew * 2)}")
    val hot = IndexStore.readAnn(spark, ann).cells
      .groupBy(col("cell")).count().orderBy(col("count").desc).first().getInt(0)
    val hotVecs = emb.join(IndexStore.readAnn(spark, ann).cells
      .filter(col("cell") === hot).select(col("vec_id")), "vec_id")
    (1 to 5).foreach(i => IndexStore.writeAnn(
      hotVecs.withColumn("vec_id", col("vec_id") + lit(1000000L * i)), ann,
      IndexStore.WriteMode.Append))
    val o1 = IndexStore.annCellOccupancy(spark, ann)
    println(f"ann     skew drifted:  ${o1.skew}%.2f" +
      s"  maintain(mid) -> ${IndexStore.maintainAnn(spark, ann, (o0.skew + o1.skew) / 2)}" +
      f"  skew after: ${IndexStore.annCellOccupancy(spark, ann).skew}%.2f")

    // --- BPE tokenizer: compression drift ------------------------------
    val bpe = s"$base/bpe"
    IndexStore.buildBpe(docs, bpe)
    println(f"bpe     drift fresh:   ${IndexStore.bpeCompressionDrift(spark, bpe, docs)}%.4f" +
      s"  maintain(0.05) -> ${IndexStore.maintainBpe(spark, bpe, docs, 0.05)}")
    val grown = docs.select(col("doc_id"), col("text"))
      .unionByName(newVocab)
    val bd = IndexStore.bpeCompressionDrift(spark, bpe, grown)
    println(f"bpe     drift drifted: $bd%.4f" +
      s"  maintain(${bd / 2}) -> ${IndexStore.maintainBpe(spark, bpe, grown, bd / 2)}" +
      f"  drift after: ${IndexStore.bpeCompressionDrift(spark, bpe, grown)}%.4f")

    // --- BPE tokenizer: per-LANGUAGE fertility trigger ------------------
    // a language-skewed delta: global compression barely moves (the new
    // docs are a sliver of the corpus) but the new language's fertility
    // blows up vs its baseline — only the per-language trigger sees it
    val bpe2 = s"$base/bpe2"
    IndexStore.buildBpe(docs, bpe2)
    val skewed = docs.select(col("doc_id"), col("text"), col("lang"))
      .unionByName((0 until 40).map(i =>
        (70000L + i, (0 until 40).map(j => s"qvx${(i * 13 + j) % 90}").mkString(" "), "eo"))
        .toDF("doc_id", "text", "lang"))
    val gd = IndexStore.bpeCompressionDrift(spark, bpe2, skewed)
    val fd = IndexStore.bpeFertilityDrift(spark, bpe2, skewed)
    println(f"bpe     lang-skewed delta: global drift $gd%.4f (maintain(${gd * 2}%.4f) " +
      s"alone -> ${IndexStore.maintainBpe(spark, bpe2, skewed, gd * 2)})" +
      f"  worst-lang fertility rise $fd%.4f" +
      s"  maintain(+fertility ${fd / 2}) -> " +
      s"${IndexStore.maintainBpe(spark, bpe2, skewed, gd * 2, fd / 2)}" +
      f"  fertility after: ${IndexStore.bpeFertilityDrift(spark, bpe2, skewed)}%.4f")

    // --- DSIR importance model: hashed-gram bucket drift ---------------
    val dsir = s"$base/dsir"
    val target = graft.sources.IndexStore.standingCurationVerdicts(spark, dir)
    val lam0 = graft.ops.Corpus.dsirFit(docs, target)
    IndexStore.buildDsirModel(spark, lam0,
      graft.ops.Corpus.dsirThresholds(docs, lam0), dsir,
      graft.ops.Corpus.dsirBucketCounts(docs))
    println(f"dsir    drift fresh:   ${IndexStore.dsirBucketDrift(spark, dsir, docs)}%.4f" +
      s"  maintain(0.05) -> ${IndexStore.maintainDsir(spark, dsir, docs, target, 0.05)}")
    val shifted = docs.select(col("doc_id"), col("source"), col("text"))
      .unionByName(newVocab.withColumn("source", lit("srcX")))
    val dd = IndexStore.dsirBucketDrift(spark, dsir, shifted)
    println(f"dsir    drift drifted: $dd%.4f" +
      s"  maintain(${dd / 2}) -> ${IndexStore.maintainDsir(spark, dsir, shifted, target, dd / 2)}" +
      f"  drift after: ${IndexStore.dsirBucketDrift(spark, dsir, shifted)}%.4f")

    // --- perplexity gate: trigram backoff drift ------------------------
    val ppl = s"$base/ppl"
    IndexStore.buildPpl(docs, ppl)
    println(f"ppl     drift fresh:   ${IndexStore.pplBackoffDrift(spark, ppl, docs)}%.4f" +
      s"  maintain(0.05) -> ${IndexStore.maintainPpl(spark, ppl, docs, 0.05)}")
    val pplDrift = IndexStore.pplBackoffDrift(spark, ppl, shifted)
    println(f"ppl     drift drifted: $pplDrift%.4f" +
      s"  maintain(${pplDrift / 2}) -> ${IndexStore.maintainPpl(spark, ppl, shifted, pplDrift / 2)}" +
      f"  drift after: ${IndexStore.pplBackoffDrift(spark, ppl, shifted)}%.4f")

    spark.stop()
  }
}
