package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-12 additions: CCNet perplexity terciles (text_ppl_buckets) and
  * fuzzy train-side decontamination (corpus_contamination_fuzzy).
  * Value-level equality is the DuckDB oracle gate's job; these pin the
  * structural invariants each operator promises. */
class PplContamSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("pplBuckets: every scored doc is bucketed, and buckets partition " +
      "each language's score range in tail < middle < head order") {
    val out = TermScoring.pplBuckets(spark, dir).collect()
    val scored = TermScoring.lmBackoff(spark, dir).count()
    assert(out.length.toLong === scored,
      "one bucket row per LM-scored doc (langid covers every doc)")
    assert(out.map(_.getString(3)).toSet.subsetOf(Set("head", "middle", "tail")))

    out.groupBy(_.getString(1)).foreach { case (lang, rows) =>
      val byBucket = rows.groupBy(_.getString(3))
        .map { case (b, rs) => b -> rs.map(_.getDouble(2)) }
      def maxOf(b: String) = byBucket.get(b).map(_.max)
      def minOf(b: String) = byBucket.get(b).map(_.min)
      // threshold semantics: tail = s <= t_lo, middle = t_lo < s <= t_hi,
      // head = s > t_hi — so the buckets are strictly ordered score bands
      for (t <- maxOf("tail"); m <- minOf("middle"))
        assert(t < m, s"$lang: tail/middle bands overlap")
      for (m <- maxOf("middle"); h <- minOf("head"))
        assert(m < h, s"$lang: middle/head bands overlap")
    }

    // the dominant language has enough docs for all three buckets, and the
    // exact-sample terciles (sample k >= population at this SF) are
    // roughly balanced — ties can shift the edges, not collapse a bucket
    val en = out.filter(_.getString(1) == "en")
    val enCounts = en.groupBy(_.getString(3)).map { case (b, r) => b -> r.length }
    assert(enCounts.keySet === Set("head", "middle", "tail"))
    enCounts.values.foreach(n =>
      assert(n >= en.length / 6, s"degenerate tercile: $enCounts"))
  }

  test("pplBuckets is deterministic across runs") {
    val a = TermScoring.pplBuckets(spark, dir).collect().toSeq
    val b = TermScoring.pplBuckets(spark, dir).collect().toSeq
    assert(a === b)
  }

  test("pplBuckets with a genuine subsample (k < population) still yields " +
      "ordered, roughly balanced terciles — the 100 TB threshold path") {
    // sf0.001 'en' has ~190 docs; k=64 forces sampled thresholds rather
    // than the exact-population degenerate case the harness SF hits
    val out = TermScoring.pplBuckets(spark, dir, sampleK = 64).collect()
    val en = out.filter(_.getString(1) == "en")
    val byBucket = en.groupBy(_.getString(3))
      .map { case (b, rs) => b -> rs.map(_.getDouble(2)) }
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    assert(byBucket("tail").max < byBucket("middle").min)
    assert(byBucket("middle").max < byBucket("head").min)
    // sampled rank error is O(1/sqrt(64)) ~ 12%: buckets stay within a
    // loose band of n/3, never collapse
    byBucket.values.foreach(v =>
      assert(v.length >= en.length / 6 && v.length <= en.length / 2))
    // same docs, same scores — only the threshold estimate moved
    val exact = TermScoring.pplBuckets(spark, dir).collect()
      .filter(_.getString(1) == "en").map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(en.map(r => r.getLong(0) -> r.getDouble(2)).toMap === exact)
  }

  test("contaminationFuzzy: flags only train docs, matches only eval docs, " +
      "and every reported pair is an exact-jaccard threshold pair") {
    val out = Corpus.contaminationFuzzy(spark, dir).collect()
    assert(out.nonEmpty, "synthetic corpus plants near-dups across the split")

    // split membership: doc_id is train (bucket != 9), eval_match is eval
    val h = graft.functions.SharedHash.spark48("cast(id AS string)")
    def buckets(ids: Seq[Long]): Map[Long, Long] = {
      import spark.implicits._
      ids.toDF("id").withColumn("b", expr(s"pmod($h, 10)"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val trainB = buckets(out.map(_.getLong(0)).distinct.toSeq)
    val evalB = buckets(out.map(_.getLong(1)).distinct.toSeq)
    assert(trainB.values.forall(_ != 9L), "flagged ids must be train-side")
    assert(evalB.values.forall(_ == 9L), "matches must be eval-side")
    assert(out.map(_.getLong(0)).distinct.length === out.length,
      "one best-match row per contaminated train doc")

    // exactness: reported (doc, match, jaccard) rows appear with the same
    // jaccard in the brute-force cross join, at/above the family threshold
    val (ev, tr) = Dedup.deltaSplit(Tables.documents(spark, dir))
    val exact = Dedup.shingled(tr).select(col("doc_id"), col("sh").as("sh_a"))
      .crossJoin(Dedup.shingled(ev)
        .select(col("doc_id").as("eval_id"), col("sh").as("sh_b")))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .filter(col("jaccard") >= Dedup.JaccardThreshold)
      .select(col("doc_id"), col("eval_id"), col("jaccard"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact.get(key).contains(r.getDouble(2)),
        s"$key not an exact threshold pair or jaccard drifted")
      assert(r.getDouble(2) >= Dedup.JaccardThreshold)
    }
  }

  test("contaminationFuzzyIndexed: the persisted-index probe is row-" +
      "identical to the in-query variant (train text never re-shingled)") {
    val plain = Corpus.contaminationFuzzy(spark, dir).collect().toSeq
    val indexed = Corpus.contaminationFuzzyIndexed(spark, dir).collect().toSeq
    assert(indexed === plain)
  }

  test("pplIntake: verdicts only for delta docs, frozen standing " +
      "thresholds — a delta doc cannot move the bucket edges") {
    val out = TermScoring.pplIntake(spark, dir).collect()
    assert(out.nonEmpty, "hash split must yield delta docs")
    val h = graft.functions.SharedHash.spark48("cast(id AS string)")
    import spark.implicits._
    val buckets = out.map(_.getLong(0)).toSeq.toDF("id")
      .withColumn("b", expr(s"pmod($h, 10)")).collect().map(_.getLong(1))
    assert(buckets.forall(_ == 9L), "intake verdicts are delta-only")
    // the frozen-gate contract: delta docs' scores equal the corpus-wide
    // operator's (same model — it already trains on the standing split),
    // only the thresholds differ (standing-only sample vs corpus-wide)
    val corpusWide = TermScoring.pplBuckets(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    out.foreach(r => assert(corpusWide(r.getLong(0)) === r.getDouble(2)))
  }

  test("pplIntakeIndexed: the persisted frozen-model probe is row-" +
      "identical to the in-query intake (standing corpus never re-read)") {
    val plain = TermScoring.pplIntake(spark, dir).collect().toSeq
    val indexed = TermScoring.pplIntakeIndexed(spark, dir).collect().toSeq
    assert(indexed === plain)
  }

  test("streaming ppl intake: stream of micro-batches ≡ the batch gate, " +
      "crash-replay rewrites identical verdicts") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ppl-stream").toString
    val modelRoot = s"$base/model"
    val verdicts = s"$base/verdicts"
    val (delta, standing) = Dedup.deltaSplit(sf("documents", dir))
    graft.sources.IndexStore.buildPpl(standing, modelRoot)
    val b1 = delta.filter($"doc_id" % 2 === 0)
    val b2 = delta.filter($"doc_id" % 2 === 1)
    graft.streaming.StreamingOps.pplIntakeBatch(b1, 1L, modelRoot, verdicts)
    graft.streaming.StreamingOps.pplIntakeBatch(b2, 2L, modelRoot, verdicts)
    def rows(p: String) = spark.read.parquet(p)
      .select($"doc_id", $"lang", $"lm_score", $"bucket").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .sortBy(_._1).toSeq
    val streamed = (rows(s"$verdicts/b=1") ++ rows(s"$verdicts/b=2")).sortBy(_._1)
    val batch = TermScoring.pplIntakeIndexed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSeq.sortBy(_._1)
    assert(streamed == batch)
    // crash replay: the gate is frozen, so batch 1 rewrites itself
    val v1 = rows(s"$verdicts/b=1")
    graft.streaming.StreamingOps.pplIntakeBatch(b1, 1L, modelRoot, verdicts)
    assert(rows(s"$verdicts/b=1") == v1)
  }


  test("streaming ppl intake sink: two micro-batches on a stream write " +
      "the verdicts the direct batch calls write") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ppl-sink").toString
    val modelRoot = s"$base/model"
    val (delta, standing) = Dedup.deltaSplit(sf("documents", dir))
    graft.sources.IndexStore.buildPpl(standing, modelRoot)
    val batches = Seq(delta.filter($"doc_id" % 2 === 0),
      delta.filter($"doc_id" % 2 === 1))
    runSink(batches: _*)(graft.streaming.StreamingOps.pplIntakeSink(_,
      modelRoot, s"$base/stream")(s"$base/ckpt"))
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.StreamingOps.pplIntakeBatch(b, i.toLong, modelRoot,
        s"$base/direct")
    }
    assert(rowsUnder(s"$base/stream").nonEmpty)
    assert(rowsUnder(s"$base/stream") === rowsUnder(s"$base/direct"))
  }

  test("backoff drift: zero on the fit corpus, detects new vocabulary, " +
      "re-freeze restores it") {
    import spark.implicits._
    import graft.sources.IndexStore
    val root = java.nio.file.Files.createTempDirectory("ppl-drift").toString
    val docs = sf("documents", dir)
    IndexStore.buildPpl(docs, root)
    assert(IndexStore.pplBackoffDrift(spark, root, docs) == 0.0)
    assert(!IndexStore.maintainPpl(spark, root, docs, 0.05))
    // trigrams the fit never saw force the scorer off the top level
    val alien = (0 until 200).map(i =>
      (90000L + i, "srcX", "en",
        (0 until 30).map(j => s"qq${(i * 7 + j) % 90}qz").mkString(" ")))
      .toDF("doc_id", "source", "lang", "text")
    val shifted = docs.select($"doc_id", $"source", $"lang", $"text")
      .unionByName(alien)
    val d = IndexStore.pplBackoffDrift(spark, root, shifted)
    assert(d > 0.01, s"drift $d")
    // threshold below the observed drift → re-freeze runs and re-centers
    assert(IndexStore.maintainPpl(spark, root, shifted, d / 2))
    assert(IndexStore.pplBackoffDrift(spark, root, shifted) == 0.0)
  }

  test("bucketBy: a doc whose language has no threshold row gets an " +
      "explicit 'unscored' verdict, not silently dropped (r12 ADVICE)") {
    import spark.implicits._
    val d = Seq((1L, "en", 0.5), (2L, "xx", 0.5))
      .toDF("doc_id", "lang", "lm_score")
    val th = Seq(("en", 0.3, 0.7)).toDF("lang", "t_lo", "t_hi")
    val out = TermScoring.bucketBy(d, th).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out === Map(1L -> "middle", 2L -> "unscored"),
      "both docs present; the uncovered language is flagged, not dropped")
  }

  test("pplBackoffDrift on an EMPTY fit corpus returns the no-signal 0.0 " +
      "instead of NPEing on NULL stats sums (r12 ADVICE)") {
    import spark.implicits._
    import graft.sources.IndexStore
    val root = java.nio.file.Files.createTempDirectory("ppl-empty").toString
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "source", "lang", "text")
    IndexStore.buildPpl(empty, root)
    val docs = sf("documents", dir)
    assert(IndexStore.pplBackoffDrift(spark, root, docs) == 0.0)
  }

  test("pplBuckets and contaminationFuzzy are empty-safe") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("empty12").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    assert(TermScoring.pplBuckets(spark, tmp).count() === 0)
    assert(Corpus.contaminationFuzzy(spark, tmp).count() === 0)
    assert(Corpus.contaminationFuzzyIndexed(spark, tmp).count() === 0)
    assert(TermScoring.pplIntake(spark, tmp).count() === 0)
    assert(TermScoring.pplIntakeIndexed(spark, tmp).count() === 0)
  }
}
