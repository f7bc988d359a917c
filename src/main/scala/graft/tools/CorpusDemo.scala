package graft.tools

/** End-to-end training-corpus pipeline demo: redaction front door →
  * curate (exact + near-dup dedup + quality gate) → mixture sample →
  * packing manifest → contamination check → incremental-batch triage →
  * snapshot upsert → partitioned layout, printed as a one-screen summary.
  * `sbt "runMain graft.tools.CorpusDemo [sfDir]"` */
object CorpusDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session()
    import org.apache.spark.sql.functions.col
    import graft.ops.{Corpus, CorpusLayout, Dedup, Redaction, Tables, Upsert}

    val total = Tables.documents(spark, dir).count()
    val redacted = Redaction.redactDocuments(spark, dir)
      .filter(col("changed")).count()
    val canonGroups = Dedup.canonicalGroups(spark, dir).count()
    val curated = Corpus.curateQuery(spark, dir).count()
    val sampled = Corpus.mixtureSample(spark, dir).count()
    val bins = Corpus.packBins(spark, dir)
    val nBins = bins.count()
    val contam = Corpus.contamination(spark, dir)
      .filter(col("n_hits") > 0).count()
    val triage = Dedup.incrementalDedup(spark, dir)
      .groupBy(col("verdict")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val upserted = Upsert.documentsUpsert(spark, dir)
      .groupBy(col("status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val layout = CorpusLayout.writePartitioned(
      Tables.documents(spark, dir),
      java.nio.file.Files.createTempDirectory("corpus-out").toString + "/c")
    val nParts = new java.io.File(layout).listFiles()
      .count(f => f.isDirectory)

    println(f"documents:            $total%6d")
    println(f"redaction changed:    $redacted%6d  (PII + deny-term masking)")
    println(f"canonical groups:     $canonGroups%6d  (case/punct-folded digests)")
    println(f"after curation:       $curated%6d  (exact+near dedup, quality gate)")
    println(f"after mixture sample: $sampled%6d  (per-source rates, stable hash)")
    println(f"packing bins:         $nBins%6d  (budget ${Corpus.TokenBudget} tokens)")
    println(f"contaminated eval:    $contam%6d  (8-gram train overlap)")
    println(f"delta triage:         ${triage.getOrElse("novel", 0L)}%6d novel / " +
      f"${triage.getOrElse("near", 0L)}%d near / ${triage.getOrElse("exact", 0L)}%d exact")
    println(f"snapshot upsert:      ${upserted.getOrElse("kept", 0L)}%6d kept / " +
      f"${upserted.getOrElse("updated", 0L)}%d updated / " +
      f"${upserted.getOrElse("inserted", 0L)}%d inserted")
    println(f"layout partitions:    $nParts%6d  (source=*/lang=* hive dirs)")
    spark.stop()
  }
}
