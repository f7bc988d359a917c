package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Dedup, Tables, TextAnalysis}

/** The persisted standing-index contract: append is delta-proportional
  * (the standing corpus is NOT an input of an append), the appended index
  * equals a from-scratch rebuild, and the indexed probe queries answer
  * byte-identically to their recompute-in-query twins. */
class IndexStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Write `df` as a parquet table and read it back, so inputFiles
    * assertions have a concrete directory to check against. */
  private def asTable(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("appendWinnow reads ONLY the delta batch — never the standing corpus") {
    val docs = Tables.documents(spark, dir)
    val standingDir = tmp("idx-standing")
    val deltaDir = tmp("idx-delta")
    val standing = asTable(docs.filter(col("doc_id") % 5 =!= 0), standingDir)
    val delta = asTable(docs.filter(col("doc_id") % 5 === 0), deltaDir)

    val idxPath = tmp("idx-winnow") + "/fp"
    IndexStore.buildWinnow(standing, idxPath)
    val appended = IndexStore.appendWinnow(delta, idxPath)

    // the load-bearing claim: the appended rows' lineage reads the delta
    // table only — O(delta) maintenance however large the standing corpus
    val inputs = appended.inputFiles
    assert(inputs.nonEmpty)
    assert(inputs.forall(_.contains(deltaDir)),
      s"append read outside the delta dir: ${inputs.mkString(", ")}")
    assert(!inputs.exists(_.contains(standingDir)),
      "append must not rescan the standing corpus")
  }

  test("append-maintained winnow index equals a from-scratch rebuild") {
    val docs = Tables.documents(spark, dir)
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)

    val incremental = tmp("idx-winnow-inc") + "/fp"
    IndexStore.buildWinnow(standing, incremental)
    IndexStore.appendWinnow(delta, incremental)

    val rebuilt = tmp("idx-winnow-full") + "/fp"
    IndexStore.buildWinnow(docs, rebuilt)

    assert(sortedRows(IndexStore.readWinnow(spark, incremental)) ===
      sortedRows(IndexStore.readWinnow(spark, rebuilt)))
  }

  test("appendDedup reads ONLY the delta batch across all three tables") {
    val docs = Tables.documents(spark, dir)
    val standingDir = tmp("idx-dstanding")
    val deltaDir = tmp("idx-ddelta")
    val standing = asTable(docs.filter(col("doc_id") % 5 =!= 0), standingDir)
    val delta = asTable(docs.filter(col("doc_id") % 5 === 0), deltaDir)

    val root = tmp("idx-dedup")
    IndexStore.buildDedup(standing, root)
    val parts = IndexStore.appendDedup(delta, root)

    for ((name, df) <- Seq("digests" -> parts.digests,
        "bands" -> parts.bands, "shingles" -> parts.shingles)) {
      val inputs = df.inputFiles
      assert(!inputs.exists(_.contains(standingDir)),
        s"$name append must not rescan the standing corpus")
    }
  }

  test("append-maintained dedup index equals a from-scratch rebuild") {
    val docs = Tables.documents(spark, dir)
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)

    val inc = tmp("idx-dedup-inc")
    IndexStore.buildDedup(standing, inc)
    IndexStore.appendDedup(delta, inc)

    val full = tmp("idx-dedup-full")
    IndexStore.buildDedup(docs, full)

    val a = IndexStore.readDedup(spark, inc)
    val b = IndexStore.readDedup(spark, full)
    assert(sortedRows(a.digests) === sortedRows(b.digests))
    assert(sortedRows(a.bands) === sortedRows(b.bands))
    assert(sortedRows(a.shingles.select(col("doc_id"),
        concat_ws("|", col("sh")))) ===
      sortedRows(b.shingles.select(col("doc_id"),
        concat_ws("|", col("sh")))))
  }

  test("indexed probe queries ≡ their recompute-in-query twins (row for row)") {
    assert(sortedRows(TextAnalysis.winnowProbeIndexed(spark, dir)) ===
      sortedRows(TextAnalysis.winnowProbe(spark, dir)))
    assert(sortedRows(Dedup.incrementalDedupIndexed(spark, dir)) ===
      sortedRows(Dedup.incrementalDedup(spark, dir)))
  }

  test("appendPostings writes a delta-only segment and the merged view " +
      "equals a from-scratch recompute") {
    val docs = Tables.documents(spark, dir)
    val standingDir = tmp("post-standing")
    val deltaDir = tmp("post-delta")
    val standing = asTable(docs.filter(col("doc_id") % 5 =!= 0), standingDir)
    val delta = asTable(docs.filter(col("doc_id") % 5 === 0), deltaDir)

    val idxPath = tmp("post-idx") + "/seg"
    IndexStore.buildPostings(standing, idxPath)
    val appended = IndexStore.appendPostings(delta, idxPath)
    val inputs = appended.inputFiles
    assert(inputs.nonEmpty && inputs.forall(_.contains(deltaDir)),
      s"append read outside the delta dir: ${inputs.mkString(", ")}")

    // two merged segments ≡ one segment over the whole corpus
    val merged = IndexStore.mergePostings(IndexStore.readPostings(spark, idxPath))
    val rebuilt = IndexStore.postingsSegmentOf(docs)
      .select(col("token"), col("df_docs"),
        expr("slice(postings, 1, 50)").as("postings"))
    assert(sortedRows(merged) === sortedRows(rebuilt))
  }

  test("indexed postings head ≡ the recompute-in-query twin (row for row)") {
    assert(sortedRows(TextAnalysis.invertedIndexIndexed(spark, dir)) ===
      sortedRows(TextAnalysis.invertedIndex(spark, dir)))
  }

  test("indexed probe's plan never scans the documents table for the standing side") {
    // force the memoized standing index to exist, then check the probe plan
    TextAnalysis.winnowProbeIndexed(spark, dir).count()
    val plan = TextAnalysis.winnowProbeIndexed(spark, dir)
      .queryExecution.executedPlan.toString
    // exactly one scan of documents.parquet (the delta side); the standing
    // side comes from the index parquet
    val docScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(docScans === 1,
      s"expected 1 documents scan (delta only), found $docScans")
  }

  test("an in-session appendDedup on the standing index's own root is " +
      "seen by the next standingDedupIndex, and the stale resident copy's " +
      "blocks are released") {
    // a private corpus dir, so the shared sf0.001 standing index stays
    // untouched for the other specs
    val corpus = tmp("idx-resident")
    Tables.documents(spark, dir).write.parquet(s"$corpus/documents.parquet")
    val persisted = () => spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted()
    val first = IndexStore.standingDedupIndex(spark, corpus)
    val firstDigests = sortedRows(first.digests)
    val residentIds = persisted() -- before
    assert(residentIds.nonEmpty, "the resident copy must pin blocks")

    val added = Tables.documents(spark, dir).filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("appended "), col("text")).as("text"))
    val appended = IndexStore.appendDedup(added,
      IndexStore.dedupRoot(spark, corpus))
    val newDigests = sortedRows(appended.digests)
    assert(newDigests.nonEmpty)

    val second = sortedRows(
      IndexStore.standingDedupIndex(spark, corpus).digests)
    assert(second === (firstDigests ++ newDigests).sorted,
      "the second call must return the appended digests")
    assert((residentIds & persisted()).isEmpty,
      "the dropped resident copy's blocks must be unpersisted")
    graft.State.invalidate(spark, IndexStore.dedupRoot(spark, corpus))
  }
}
