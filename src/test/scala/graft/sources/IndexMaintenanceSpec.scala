package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Dedup, Tables}
import graft.sources.IndexStore.WriteMode.{Append, Batch, Build}

/** Physical index maintenance: compaction leaves every read view
  * byte-identical while shrinking the file count, delta folding preserves
  * the replay-safe streaming views, and the prefix-dictionary rebuild
  * restores from-scratch sharpness without touching recall. */
class IndexMaintenanceSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("compactTable: rows identical, file count collapses, threshold " +
      "respected") {
    val docs = Tables.documents(spark, dir)
    val path = tmp("cmp-winnow") + "/fp"
    IndexStore.writeWinnow(docs.filter(col("doc_id") % 4 === 0), path, Build)
    (1 to 3).foreach(i =>
      IndexStore.writeWinnow(docs.filter(col("doc_id") % 4 === i), path, Append))

    val before = sortedRows(IndexStore.readWinnow(spark, path))
    val filesBefore = IndexStore.parquetFileCount(spark, path)
    // under threshold: no-op
    assert(!IndexStore.compactTable(spark, path, maxFiles = filesBefore))
    assert(IndexStore.parquetFileCount(spark, path) === filesBefore)
    // over threshold: rewrite (build + 3 appends ≥ 4 files)
    assert(filesBefore >= 4, s"fixture landed only $filesBefore files")
    assert(IndexStore.compactTable(spark, path, maxFiles = filesBefore - 1,
      targetFiles = 1))
    val filesAfter = IndexStore.parquetFileCount(spark, path)
    assert(filesAfter === 1, s"still $filesAfter files")
    assert(sortedRows(IndexStore.readWinnow(spark, path)) === before)
  }

  test("compactTable preserves the streaming _delta subtree and its " +
      "replay-safe views") {
    val docs = Tables.documents(spark, dir).limit(100)
    val path = tmp("cmp-delta") + "/digests"
    IndexStore.writeCurationDigests(docs.filter(col("doc_id") % 2 === 0), path,
      Build)
    IndexStore.writeCurationDigests(docs.filter(col("doc_id") % 2 === 1), path,
      Append)
    IndexStore.writeCurationDigests(
      docs.filter(col("doc_id") < 10), path, Batch(1L))

    val viewBefore = sortedRows(
      IndexStore.readCurationDigests(spark, path, Some(2L)))
    assert(IndexStore.compactTable(spark, path, maxFiles = 1, targetFiles = 1))
    assert(Tables.versions(spark, s"$path/_delta", "b") === Seq(1L),
      "compaction must not touch _delta segments")
    assert(sortedRows(IndexStore.readCurationDigests(spark, path, Some(2L))) ===
      viewBefore)
  }

  test("foldDeltas: views at or above the fold watermark are unchanged, " +
      "segment dirs are gone") {
    val docs = Tables.documents(spark, dir).limit(120)
    val path = tmp("fold") + "/digests"
    IndexStore.writeCurationDigests(docs.filter(col("doc_id") % 3 === 0), path,
      Build)
    IndexStore.writeCurationDigests(
      docs.filter(col("doc_id") % 3 === 1), path, Batch(1L))
    IndexStore.writeCurationDigests(
      docs.filter(col("doc_id") % 3 === 2), path, Batch(2L))

    val viewAt3 = sortedRows(
      IndexStore.readCurationDigests(spark, path, Some(3L)))
    assert(IndexStore.foldDeltas(spark, path, upTo = 3L))
    assert(Tables.versions(spark, s"$path/_delta", "b").isEmpty)
    assert(sortedRows(IndexStore.readCurationDigests(spark, path, Some(3L))) ===
      viewAt3)
    // idempotent when nothing is left to fold
    assert(!IndexStore.foldDeltas(spark, path, upTo = 3L))
  }

  test("compactPostings: merged dictionary view identical, segments " +
      "collapse to one") {
    val docs = Tables.documents(spark, dir)
    val path = tmp("cmp-post") + "/seg"
    IndexStore.buildPostings(docs.filter(col("doc_id") % 3 === 0), path)
    IndexStore.appendPostings(docs.filter(col("doc_id") % 3 === 1), path)
    IndexStore.appendPostings(docs.filter(col("doc_id") % 3 === 2), path)

    def view = IndexStore.mergePostings(IndexStore.readPostings(spark, path))
      .select(col("token"), col("df_docs"), concat_ws("|", col("postings")))
    val before = sortedRows(view)
    val filesBefore = IndexStore.parquetFileCount(spark, path)
    IndexStore.compactPostings(spark, path, targetFiles = 1)
    assert(IndexStore.parquetFileCount(spark, path) < filesBefore)
    assert(sortedRows(view) === before)
  }

  test("rebuildPrefix: index row-identical to a from-scratch build, probe " +
      "results (exact recall) unchanged by append-then-rebuild") {
    val docs = Tables.documents(spark, dir)
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val late = docs.filter(col("doc_id") % 5 === 0)
    val probe = docs.filter(col("doc_id") % 7 === 3).limit(30)

    val inc = tmp("pfx-inc")
    IndexStore.buildPrefix(standing, inc)
    IndexStore.writePrefix(late, inc, Append) // stale-dictionary prefixes
    val probeStale = sortedRows(
      Dedup.prefixProbe(probe, IndexStore.readPrefix(spark, inc)))

    IndexStore.rebuildPrefix(spark, inc)
    val full = tmp("pfx-full")
    IndexStore.buildPrefix(docs, full)

    val a = IndexStore.readPrefix(spark, inc)
    val b = IndexStore.readPrefix(spark, full)
    assert(sortedRows(a.freq) === sortedRows(b.freq))
    assert(sortedRows(a.prefixes) === sortedRows(b.prefixes))
    // recall is dictionary-independent: stale and rebuilt probes agree
    assert(sortedRows(Dedup.prefixProbe(probe, a)) === probeStale)
  }

  test("annCellOccupancy + maintainAnn: a cell-concentrated delta crosses " +
      "the skew threshold, the triggered rebuild rebalances") {
    val emb = Tables.embeddings(spark, dir)
    val root = tmp("ann-drift")
    IndexStore.buildAnn(emb.filter(col("vec_id") < 400), root)
    val base = IndexStore.annCellOccupancy(spark, root)
    assert(base.nVectors === 400L)

    // drift fixture: re-keyed copies of the fullest cell's own vectors —
    // assignment under the FROZEN centroids routes every copy back into
    // that one cell, the worst-case intake stream for a stale quantizer
    val cells = IndexStore.readAnn(spark, root).cells
    val hot = cells.groupBy(col("cell")).count()
      .orderBy(col("count").desc, col("cell")).first().getInt(0)
    val hotVecs = emb.join(
      cells.filter(col("cell") === hot).select(col("vec_id")), "vec_id")
    (1 to 4).foreach(i => IndexStore.writeAnn(
      hotVecs.withColumn("vec_id", col("vec_id") + lit(100000L * i)), root,
      Append))
    val drifted = IndexStore.annCellOccupancy(spark, root)
    assert(drifted.skew > base.skew, "hot-cell appends must raise skew")

    // under the threshold: measurement only, no rebuild
    assert(!IndexStore.maintainAnn(spark, root, maxSkew = drifted.skew + 1.0))
    // crossed: rebuild runs, the re-fit quantizer splits the hot region
    assert(IndexStore.maintainAnn(spark, root,
      maxSkew = (base.skew + drifted.skew) / 2.0))
    val after = IndexStore.annCellOccupancy(spark, root)
    assert(after.nVectors === drifted.nVectors, "rebuild must not lose rows")
    assert(after.skew < drifted.skew,
      s"rebalanced skew ${after.skew} should beat drifted ${drifted.skew}")
  }

  test("prefixFreqDrift + maintainPrefix: vocabulary turnover crosses the " +
      "drift threshold, the triggered re-freeze restores drift zero") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val root = tmp("pfx-drift2")
    IndexStore.buildPrefix(docs.filter(col("doc_id") < 300), root)
    // a fresh build's dictionary IS the corpus distribution: drift exact 0
    assert(IndexStore.prefixFreqDrift(spark, root) === 0.0)

    // delta with a disjoint vocabulary: every shingle hash is new, so the
    // frozen dictionary's mass and the new mass diverge toward TV ~ 0.5
    val driftedDocs = (0 until 300).map { i =>
      (100000L + i, (0 until 40).map(j => s"zq${(i * 7 + j) % 90}").mkString(" "))
    }.toDF("doc_id", "text")
    IndexStore.writePrefix(driftedDocs, root, Append)
    val drift = IndexStore.prefixFreqDrift(spark, root)
    assert(drift > 0.25, s"vocabulary turnover must register: $drift")

    assert(!IndexStore.maintainPrefix(spark, root, maxDrift = drift + 0.1),
      "under the threshold: no rebuild")
    assert(IndexStore.maintainPrefix(spark, root, maxDrift = drift / 2),
      "crossed: re-freeze runs")
    assert(IndexStore.prefixFreqDrift(spark, root) === 0.0,
      "after re-freeze the dictionary matches the corpus again")
  }

  test("prefixFreqDrift sees STREAMING delta segments; the triggered " +
      "rebuild folds them and covers intaken docs (r9 advice)") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val root = tmp("pfx-sdrift")
    IndexStore.buildPrefix(docs.filter(col("doc_id") < 300), root)
    assert(IndexStore.prefixFreqDrift(spark, root) === 0.0)

    // disjoint-vocabulary intake lands ONLY as _delta/b=1 (the streaming
    // path) — a drift metric reading the standing table alone reports 0.0
    // here and the rebuild trigger never fires after streaming intake
    val intake = (0 until 300).map { i =>
      (200000L + i, (0 until 40).map(j => s"wv${(i * 11 + j) % 90}").mkString(" "))
    }.toDF("doc_id", "text")
    IndexStore.writePrefix(intake, root, Batch(1L))
    assert(Tables.versions(spark, s"$root/sets/_delta", "b") === Seq(1L))
    val drift = IndexStore.prefixFreqDrift(spark, root)
    assert(drift > 0.25,
      s"streaming-intaken vocabulary must register as drift: $drift")

    assert(IndexStore.maintainPrefix(spark, root, maxDrift = drift / 2),
      "crossed: re-freeze runs")
    // rebuild folded the segments and re-froze over the FULL corpus:
    // drift back to zero, no surviving delta dirs, index row-identical
    // to a from-scratch build over standing + intaken docs
    assert(IndexStore.prefixFreqDrift(spark, root) === 0.0)
    assert(Tables.versions(spark, s"$root/sets/_delta", "b").isEmpty)
    assert(Tables.versions(spark, s"$root/prefixes/_delta", "b").isEmpty)
    val full = tmp("pfx-sdrift-full")
    IndexStore.buildPrefix(
      docs.filter(col("doc_id") < 300).select("doc_id", "text")
        .unionByName(intake), full)
    val a = IndexStore.readPrefix(spark, root)
    val b = IndexStore.readPrefix(spark, full)
    assert(sortedRows(a.freq) === sortedRows(b.freq))
    assert(sortedRows(a.prefixes) === sortedRows(b.prefixes))
    assert(sortedRows(a.sets.select(col("doc_id"), col("sz"))) ===
      sortedRows(b.sets.select(col("doc_id"), col("sz"))))
  }

  test("foldAnnDeltas: read views identical, segments retired, folded rows " +
      "land in cell partition dirs (pruning restored)") {
    val emb = Tables.embeddings(spark, dir)
    val root = tmp("ann-fold")
    IndexStore.buildAnn(emb.filter(col("vec_id") < 300), root)
    IndexStore.writeAnn(
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 400), root, Batch(1L))
    IndexStore.writeAnn(emb.filter(col("vec_id") >= 400), root, Batch(2L))

    val cellsBefore = sortedRows(IndexStore.readAnn(spark, root, Some(3L)).cells)
    val codesBefore = sortedRows(
      IndexStore.readAnn(spark, root, Some(3L)).codes
        .select(col("vec_id"), col("cell").cast("int")))
    assert(Seq("cells", "codes").map(t => IndexStore.foldDeltas(spark,
      s"$root/$t", 3L, Seq("cell"))).exists(identity))
    assert(Tables.versions(spark, s"$root/cells/_delta", "b").isEmpty)
    assert(Tables.versions(spark, s"$root/codes/_delta", "b").isEmpty)
    assert(sortedRows(IndexStore.readAnn(spark, root, Some(3L)).cells)
      === cellsBefore)
    assert(sortedRows(IndexStore.readAnn(spark, root).codes
      .select(col("vec_id"), col("cell"))) === codesBefore)
    // second fold is a no-op
    assert(!Seq("cells", "codes").map(t => IndexStore.foldDeltas(spark,
      s"$root/$t", 3L, Seq("cell"))).exists(identity))
  }

  test("rebuildAnn: re-frozen quantizers cover the full corpus exactly " +
      "once, and every stored cell/code matches direct assignment/encode " +
      "under the new quantizers") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, dir)
    val root = tmp("ann-rebuild")
    IndexStore.buildAnn(emb.filter(col("vec_id") < 250), root)
    IndexStore.writeAnn(
      emb.filter(col("vec_id") >= 250 && col("vec_id") < 350), root, Append)
    IndexStore.writeAnn(emb.filter(col("vec_id") >= 350), root, Batch(1L))

    IndexStore.rebuildAnn(spark, root)
    val cs = IndexStore.readAnn(spark, root).centroids
    val cbs = IndexStore.readAnn(spark, root).codebooks
    val cells = IndexStore.readAnn(spark, root).cells
    assert(cells.count() === emb.count(), "every vector exactly once")
    assert(cells.select(col("vec_id")).distinct().count() === emb.count())
    val stored = cells.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val direct = Similarity.assignCells(Similarity.embeddedOf(emb), cs)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored === direct, "cells must reflect the NEW frozen centroids")
    def codeMap(df: DataFrame) = df
      .select(col("vec_id") +: (0 until Similarity.PqM)
        .map(j => col(s"code_$j")): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1).toList).toMap
    assert(codeMap(IndexStore.readAnn(spark, root).codes) ===
      codeMap(Similarity.encodePq(
        Similarity.assignCells(Similarity.embeddedOf(emb), cs), cbs)),
      "codes must reflect the NEW frozen codebooks")
    // the staging snapshot is gone and no delta segments survive
    assert(Tables.versions(spark, s"$root/cells/_delta", "b").isEmpty)
    assert(!new java.io.File(s"$root/_rebuild_src").exists())
  }

  /** A per-row index kind with a `Batch` mode, over a two-part fixture:
    * `write(part, root, mode)` lands part 0 (the standing rows) or part 1
    * (the batch); `Build` of part 0 also fits what the kind freezes.
    * `tables` are its per-row tables (`""` = the root itself), folded
    * through `partitionBy`. */
  private final case class RowKind(name: String, tables: Seq[String],
      partitionBy: Seq[String] = Nil)(
      val write: (Int, String, IndexStore.WriteMode) => Unit,
      val read: (String, Option[Long]) => Seq[DataFrame])

  private def docsPart(p: Int) = Tables.documents(spark, dir)
    .filter(col("doc_id") < 80 && col("doc_id") % 2 === p)
  private def embPart(p: Int) = Tables.embeddings(spark, dir)
    .filter(col("vec_id") < 400 && col("vec_id") % 2 === p)
  private def assetPart(assets: org.apache.spark.sql.Dataset[graft.ops.Asset],
      p: Int) = assets.filter(col("asset_id") < 60 && col("asset_id") % 2 === p)

  private val rowKinds = Seq(
    RowKind("winnow", Seq(""))(
      (p, r, m) => IndexStore.writeWinnow(docsPart(p), r, m),
      (r, b) => Seq(IndexStore.readWinnow(spark, r, b))),
    RowKind("dedup", Seq("digests", "bands", "shingles"))(
      (p, r, m) => IndexStore.writeDedup(docsPart(p), r, m),
      (r, b) => {
        val i = IndexStore.readDedup(spark, r, b)
        Seq(i.digests, i.bands, i.shingles)
      }),
    RowKind("curation digests", Seq(""))(
      (p, r, m) => IndexStore.writeCurationDigests(docsPart(p), r, m),
      (r, b) => Seq(IndexStore.readCurationDigests(spark, r, b))),
    RowKind("wide-band sig", Seq(""))(
      (p, r, m) => IndexStore.writeSig(embPart(p), r, m),
      (r, b) => Seq(IndexStore.readSig(spark, r, b))),
    RowKind("phash", Seq(""))(
      (p, r, m) => IndexStore.writePhash(
        assetPart(graft.ops.Multimodal.synthesizeAssets(spark, dir), p), r, m),
      (r, b) => Seq(IndexStore.readPhash(spark, r, b))),
    RowKind("audio sig", Seq(""))(
      (p, r, m) => IndexStore.writeAudioSig(
        assetPart(graft.ops.AudioDedup.synthesizeWavAssets(spark, dir), p),
        r, m),
      (r, b) => Seq(IndexStore.readAudioSig(spark, r, b))),
    RowKind("prefix", Seq("sets", "prefixes"))(
      (p, r, m) =>
        if (p == 0 && m == Build) IndexStore.buildPrefix(docsPart(p), r)
        else IndexStore.writePrefix(docsPart(p), r, m),
      (r, b) => {
        val i = IndexStore.readPrefix(spark, r, b)
        Seq(i.sets, i.prefixes, i.freq)
      }),
    RowKind("ann", Seq("cells", "codes"), Seq("cell"))(
      (p, r, m) =>
        if (p == 0 && m == Build) IndexStore.buildAnn(embPart(p), r)
        else IndexStore.writeAnn(embPart(p), r, m),
      (r, b) => {
        val i = IndexStore.readAnn(spark, r, b)
        Seq(i.cells, i.codes)
      }))

  rowKinds.foreach { k =>
    test(s"batch replay at the index layer, ${k.name}: a replayed Batch(1) " +
        "leaves the same rows, reads before 1 see the standing rows only, " +
        "before 2 add batch 1, and a fold keeps both views") {
      def rows(root: String, before: Option[Long]) =
        k.read(root, before).map(sortedRows)
      val root = tmp(s"replay-${k.name.replace(' ', '-')}")
      k.write(0, root, Build)
      val standing = rows(root, None)
      // the same rows through Append: what batch 1 must add
      val appended = tmp(s"replay-append-${k.name.replace(' ', '-')}")
      k.write(0, appended, Build)
      k.write(1, appended, Append)
      val expected = rows(appended, None)
      assert(expected !== standing, "the batch part must add rows")

      k.write(1, root, Batch(1L))
      val once = rows(root, Some(2L))
      k.write(1, root, Batch(1L)) // crash replay of the same batch id
      assert(rows(root, Some(2L)) === once, "replay must not duplicate rows")
      assert(once === expected)
      assert(rows(root, Some(1L)) === standing)
      assert(rows(root, None) === standing, "segments are invisible unbounded")

      assert(k.tables.map(t => IndexStore.foldDeltas(spark,
        if (t.isEmpty) root else s"$root/$t", 2L, k.partitionBy))
        .forall(identity))
      assert(rows(root, Some(2L)) === expected)
      assert(rows(root, None) === expected, "folded rows are standing rows")
    }
  }
}
