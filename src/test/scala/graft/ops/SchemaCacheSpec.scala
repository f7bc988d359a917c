package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The schema-inference cache's rebuild guard (r16 verdict #8): the cache
  * assumes "a path's schema cannot change under a session"; the one class
  * of writers that CAN change it — artifact REBUILD paths — must bust the
  * cached entry so a later read sees the new footer, not a stale
  * StructType. */
class SchemaCacheSpec extends SparkSpec {
  import spark.implicits._

  test("bustSchema: an in-session overwrite that evolves a path's schema " +
      "is re-read correctly") {
    val tmp = java.nio.file.Files.createTempDirectory("schemabust")
      .toString + "/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(tmp)
    val first = Tables.readCached(spark, tmp)
    assert(first.columns.toSeq === Seq("id", "s"))
    assert(first.count() === 1L)
    // overwrite with an EVOLVED schema (extra column): without the bust,
    // the cached StructType would hide the new column (or crash the scan)
    Seq((2L, "b", 7.5)).toDF("id", "s", "x")
      .write.mode("overwrite").parquet(tmp)
    graft.State.invalidate(spark, tmp)
    val again = Tables.readCached(spark, tmp)
    assert(again.columns.toSeq === Seq("id", "s", "x"))
    val row = again.collect()(0)
    assert(row.getLong(0) === 2L && row.getDouble(2) === 7.5)
  }

  test("builder integration: an IndexStore rebuild over a path with a " +
      "foreign cached schema reads back the builder's schema") {
    val root = java.nio.file.Files.createTempDirectory("bustroot").toString
    // prime the cache with a FOREIGN schema at the exact artifact path
    Seq((1, 2)).toDF("a", "b").write.parquet(s"$root/digests")
    assert(Tables.readCached(spark, s"$root/digests").columns.toSeq ===
      Seq("a", "b"))
    val docs = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    graft.sources.IndexStore.buildDedup(docs, root)
    val idx = graft.sources.IndexStore.readDedup(spark, root)
    assert(idx.digests.columns.toSeq === Seq("doc_id", "fp"))
    assert(idx.digests.count() === 2L)
    assert(idx.digests.filter(col("doc_id") === 10L).count() === 1L)
  }

  test("bustSchema evicts the path and the paths under it, never a " +
      "sibling that merely shares its string prefix") {
    val root = java.nio.file.Files.createTempDirectory("bustsib").toString
    for (p <- Seq(s"$root/idx/t", s"$root/idx2")) {
      Seq((1L, "a")).toDF("id", "s").write.parquet(p)
      assert(Tables.readCached(spark, p).columns.toSeq === Seq("id", "s"))
      // evolve the files without a bust: only a cache hit still reads the
      // old schema, so the columns show whether the entry survived
      Seq((2L, "b", 7.5)).toDF("id", "s", "x")
        .write.mode("overwrite").parquet(p)
    }
    graft.State.invalidate(spark, s"$root/idx")
    assert(Tables.readCached(spark, s"$root/idx/t").columns.toSeq ===
      Seq("id", "s", "x"), "a path under the busted root must be re-read")
    assert(Tables.readCached(spark, s"$root/idx2").columns.toSeq ===
      Seq("id", "s"), "busting idx must keep the sibling idx2's entry")
  }

  test("rebuildPrefix busts the freq and prefixes tables it overwrites") {
    val root = java.nio.file.Files.createTempDirectory("bustprefix").toString
    val docs = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    graft.sources.IndexStore.buildPrefix(docs, root)
    val built = graft.sources.IndexStore.readPrefix(spark, root)
    val (freqCols, prefixCols) =
      (built.freq.columns.toSeq, built.prefixes.columns.toSeq)
    val nPrefixes = built.prefixes.count()
    // prime the cache with FOREIGN schemas at both rebuilt paths
    for (t <- Seq("freq", "prefixes")) {
      Seq((1, 2)).toDF("a", "b").write.mode("overwrite").parquet(s"$root/$t")
      graft.State.invalidate(spark, s"$root/$t")
      assert(Tables.readCached(spark, s"$root/$t").columns.toSeq ===
        Seq("a", "b"))
    }
    graft.sources.IndexStore.rebuildPrefix(spark, root)
    val idx = graft.sources.IndexStore.readPrefix(spark, root)
    assert(idx.freq.columns.toSeq === freqCols)
    assert(idx.prefixes.columns.toSeq === prefixCols)
    assert(idx.prefixes.count() === nPrefixes)
  }
}
