package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.IndexStore
import graft.sources.IndexStore.WriteMode.{Append, Build}

/** The persisted ANN standing index (IndexStore.buildAnn/appendAnn) and
  * the operators that consume it: frozen-centroid appends, O(delta)
  * maintenance, indexed-probe equivalence, and the fused argmin
  * expression's bit-exactness against the composed idiom it replaced. */
class AnnIndexSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def asTable(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("argmin_cells (fused codegen) is bit-identical to the composed " +
      "array_position-of-min idiom over vec_dot distances") {
    graft.functions.VecDot.register(spark)
    graft.functions.VecArgmin.register(spark)
    // an arbitrary non-degenerate centroid set: 7 real embeddings
    val cs = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 7).orderBy(col("vec_id"))
      .select(expr("cast(embedding AS ARRAY<DOUBLE>)"))
      .collect().map(_.getSeq[Double](0).toArray).toIndexedSeq
    val mat = array(cs.map(c => array(c.map(v => lit(v)): _*)): _*)
    val withC = cs.zipWithIndex.foldLeft(
        Tables.embeddings(spark, dir)
          .withColumn("e", expr("cast(embedding AS ARRAY<DOUBLE>)"))) {
      case (d, (c, i)) => d.withColumn(s"cc_$i", array(c.map(v => lit(v)): _*))
    }
    val dists = cs.indices.map(i =>
      expr(s"vec_dot(e, e) - 2 * vec_dot(e, cc_$i) + vec_dot(cc_$i, cc_$i)"))
    val both = withC
      .withColumn("composed",
        (array_position(array(dists: _*), array_min(array(dists: _*))) - 1)
          .cast("int"))
      .withColumn("fused", call_function("argmin_cells", col("e"), mat))
      .select(col("vec_id"), col("composed"), col("fused"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getInt(1) === r.getInt(2),
      s"argmin mismatch at vec_id ${r.getLong(0)}"))
  }

  test("indexed embedding intake ≡ the recompute form; the standing side " +
      "reads only the persisted signature index; appends are delta-only") {
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toSeq
    val rec = keyed(Similarity.cosineDupIntake(spark, dir).collect())
    val idx = keyed(Similarity.cosineDupIntakeIndexed(spark, dir).collect())
    assert(idx === rec, "probing the index must lose nothing")
    val standing = IndexStore.standingSigIndex(spark, dir)
    assert(standing.inputFiles.nonEmpty)
    assert(!standing.inputFiles.exists(_.contains("embeddings.parquet")),
      "the standing embeddings table must never be rescanned")
    // append is O(delta): signs only the rows it is given, and the
    // incrementally-grown index equals a full rebuild as a set
    val emb = Tables.embeddings(spark, dir)
    val standingDir = tmp("sig-standing")
    val deltaDir = tmp("sig-delta")
    val st = asTable(emb.filter(col("vec_id") % 5 =!= 0), standingDir)
    val dl = asTable(emb.filter(col("vec_id") % 5 === 0), deltaDir)
    val root = tmp("sig-idx") + "/sig"
    IndexStore.writeSig(st, root, Build)
    val appended = IndexStore.writeSig(dl, root, Append)
    assert(appended.inputFiles.nonEmpty &&
      appended.inputFiles.forall(_.contains(deltaDir)),
      "append must read the delta only")
    def sigSet(df: DataFrame) = df
      .select(col("vec_id"), col("wb0"), col("wb7")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val grown = sigSet(IndexStore.readSig(spark, root))
    val rebuilt = {
      val r2 = tmp("sig-idx2") + "/sig"
      IndexStore.writeSig(emb, r2, Build)
      sigSet(IndexStore.readSig(spark, r2))
    }
    assert(grown === rebuilt,
      "incrementally-grown index must equal a full rebuild")
  }

  test("appendAnn reads ONLY the delta vectors — never the standing corpus") {
    val emb = Tables.embeddings(spark, dir)
    val standingDir = tmp("ann-standing")
    val deltaDir = tmp("ann-delta")
    val standing = asTable(emb.filter(col("vec_id") % 5 =!= 0), standingDir)
    val delta = asTable(emb.filter(col("vec_id") % 5 === 0), deltaDir)

    val root = tmp("ann-idx")
    IndexStore.buildAnn(standing, root)
    val appended = IndexStore.writeAnn(delta, root, Append)

    val inputs = appended.inputFiles
    assert(inputs.nonEmpty)
    assert(inputs.forall(_.contains(deltaDir)),
      s"append read outside the delta dir: ${inputs.mkString(", ")}")
    assert(!inputs.exists(_.contains(standingDir)),
      "append must not rescan the standing corpus")
  }

  test("append-maintained cells equal frozen-centroid assignment over the " +
      "full corpus (build-then-append loses nothing)") {
    val emb = Tables.embeddings(spark, dir)
    val root = tmp("ann-idx-eq")
    IndexStore.buildAnn(emb.filter(col("vec_id") % 5 =!= 0), root)
    IndexStore.writeAnn(emb.filter(col("vec_id") % 5 === 0), root, Append)

    val cs = IndexStore.readAnn(spark, root).centroids
    val fromIndex = IndexStore.readAnn(spark, root).cells
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val direct = Similarity.assignCells(Similarity.embeddedOf(emb), cs)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fromIndex === direct)
    assert(fromIndex.size === emb.count())
  }

  test("indexed IVF probe: recall vs brute force, determinism, and no " +
      "dependence on whether vectors arrived at build or append time") {
    def keyset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = keyset(Similarity.bruteForceTopK(spark, dir).collect())
    val a = Similarity.ivfTopKIndexed(spark, dir).collect()
    val recall = (exact & keyset(a)).size.toDouble / exact.size
    assert(recall >= 0.25, s"indexed IVF recall (nprobe=4/16): $recall")
    // memoized index + frozen centroids: a second probe is byte-identical
    val b = Similarity.ivfTopKIndexed(spark, dir).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
  }

  test("append-maintained PQ codes equal frozen-quantizer encode over the " +
      "full corpus (build-then-append loses nothing in the codes table)") {
    val emb = Tables.embeddings(spark, dir)
    val root = tmp("ann-idx-pq")
    IndexStore.buildAnn(emb.filter(col("vec_id") % 5 =!= 0), root)
    IndexStore.writeAnn(emb.filter(col("vec_id") % 5 === 0), root, Append)

    val cs = IndexStore.readAnn(spark, root).centroids
    val cbs = IndexStore.readAnn(spark, root).codebooks
    assert(cbs.length === Similarity.PqM)
    assert(cbs.forall(_.length === Similarity.PqCodes))
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1).toList).toMap
    val fromIndex = keyed(IndexStore.readAnn(spark, root).codes
      .select(col("vec_id") +: (0 until Similarity.PqM)
        .map(j => col(s"code_$j")): _*))
    val direct = keyed(Similarity.encodePq(
        Similarity.assignCells(Similarity.embeddedOf(emb), cs), cbs)
      .select(col("vec_id") +: (0 until Similarity.PqM)
        .map(j => col(s"code_$j")): _*))
    assert(fromIndex === direct)
    assert(fromIndex.size === emb.count())
  }

  test("indexed IVF+PQ probe: exact-rerank scores agree with brute force, " +
      "recall holds, deterministic across probes") {
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val exact = keyed(Similarity.bruteForceTopK(spark, dir).collect())
    val a = keyed(Similarity.ivfPqTopKIndexed(spark, dir).collect())
    a.foreach { case (k, sim) =>
      exact.get(k).foreach(es => assert(es === sim, s"score drift at $k")) }
    val recall = a.keySet.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.25, s"indexed IVF+PQ recall@5: $recall")
    assert(keyed(Similarity.ivfPqTopKIndexed(spark, dir).collect()) === a)
  }

  test("IVF+PQ: exact-rerank scores agree with brute force, recall holds, " +
      "deterministic") {
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val exact = keyed(Similarity.bruteForceTopK(spark, dir).collect())
    val ivfpq = keyed(Similarity.ivfPqTopK(spark, dir).collect())
    ivfpq.foreach { case (k, sim) =>
      exact.get(k).foreach(es => assert(es === sim, s"score drift at $k")) }
    // the IVF gate discards whole cells, so recall trails flat PQ; it must
    // still beat the random-candidate rate by a wide margin
    val recall = ivfpq.keySet.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.25, s"IVF+PQ recall@5: $recall")
    assert(keyed(Similarity.ivfPqTopK(spark, dir).collect()) === ivfpq)
  }
}
