package graft.tools

import org.apache.spark.sql.functions._

/** End-to-end intake pipeline demo — round 6's theme in one run: build
  * the persisted standing indexes once, then push three delta batches
  * through the full policy (exact digest + near band triage against the
  * index, accepted docs appended back) and print what an operator would
  * watch: verdict counts per batch, the growing index, and the
  * OOV / drift monitors over the harness delta split.
  *
  * `sbt "runMain graft.tools.IntakeDemo"` — sf0.001, ~40 s.
  */
object IntakeDemo {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session()
    import spark.implicits._
    import graft.ops.{Dedup, Tables, TextAnalysis}
    import graft.sources.IndexStore
    import graft.sources.IndexStore.WriteMode.{Append, Build}

    val standing = Tables.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("intake-demo").toString
    val idx = s"$root/dedup"
    IndexStore.writeDedup(standing, idx, Build)
    val nDigests = IndexStore.readDedup(spark, idx).digests.count()
    println(f"standing corpus:      ${standing.count()}%6d docs, $nDigests%6d digests indexed")

    // three arriving batches: copies, near-variants, and novel docs
    val base = standing.select($"doc_id", $"text").as[(Long, String)]
      .collect().take(6)
    val batches = Seq(
      base.take(2).map { case (i, t) => (9000L + i, t) }.toSeq :+
        (9100L, (1 to 40).map(i => s"fresh$i").mkString(" ")),
      Seq((9101L, (1 to 40).map(i => s"fresh$i").mkString(" ")
          .replace("fresh20", "EDIT")),          // near-dup of batch-1 accept
        (9102L, (1 to 40).map(i => s"other$i").mkString(" "))),
      Seq((9103L, (1 to 40).map(i => s"other$i").mkString(" ")), // exact of b2
        (9104L, "entirely new content arrives at the end")))

    batches.zipWithIndex.foreach { case (b, i) =>
      val batch = b.toDF("doc_id", "text")
      val verdicts = Dedup.triageAgainstIndex(batch,
        IndexStore.readDedup(spark, idx))
      val counts = verdicts.groupBy($"verdict").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val novel = batch.join(
        verdicts.filter($"verdict" === "novel").select($"doc_id"), "doc_id")
      IndexStore.writeDedup(novel, idx, Append)
      println(f"batch ${i + 1}: ${b.size}%2d docs -> " +
        f"${counts.getOrElse("novel", 0L)}%d novel / " +
        f"${counts.getOrElse("near", 0L)}%d near / " +
        f"${counts.getOrElse("exact", 0L)}%d exact  " +
        f"(index now ${IndexStore.readDedup(spark, idx).digests.count()}%d digests)")
    }

    // the exact-recall probe: the same intake question with a GUARANTEE —
    // every standing pair at J ≥ 0.3 surfaces (prefix filter is lossless),
    // where the band triage above is probabilistic
    val pidx = s"$root/prefix"
    IndexStore.buildPrefix(standing, pidx)
    val probeBatch = (base.take(2).map { case (i, t) => (9200L + i, t) }
      .toSeq :+ (9300L, "entirely novel probe content"))
      .toDF("doc_id", "text")
    val exactPairs = Dedup.prefixProbe(probeBatch,
      IndexStore.readPrefix(spark, pidx))
    println(f"exact probe:          ${probeBatch.count()}%d docs -> " +
      f"${exactPairs.count()}%d standing pairs at J>=0.3 " +
      "(exact recall; standing text unread)")

    val oov = TextAnalysis.oovRate(spark, dir)
      .agg(round(avg($"oov_frac"), 4)).head().getDouble(0)
    val drift = TextAnalysis.tokenDrift(spark, dir).head()
    println(f"delta-split monitors: mean OOV $oov%.4f, " +
      f"drift ${drift.getDouble(1)}%.6f over ${drift.getInt(0)}%d vocab terms")

    // accepted docs flow through the offline-fitted tokenizer — the same
    // stateless projection the streaming intake applies (encodeSymbolsOf)
    val merges = graft.ops.Bpe.fit(spark, dir)
    val accepted = IndexStore.readDedup(spark, idx).digests.count()
    val enc = graft.ops.Bpe.encodeSymbolsOf(standing.select($"doc_id", $"text"), merges)
      .agg(count(lit(1)).as("words"), sum($"n_sym").as("symbols")).head()
    println(f"tokenizer: ${merges.size}%d merges fitted; standing corpus " +
      f"${enc.getLong(0)}%d words -> ${enc.getLong(1)}%d BPE symbols " +
      f"($accepted%d docs indexed)")
    spark.stop()
  }
}
