package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DSIR importance resampling (Corpus.dsirSelect): the fit is re-derived
  * by INDEPENDENT plain-Scala arithmetic (own md5 path, own tokenizer, own
  * counting), the selection cutoff is checked against exact per-source
  * rank math, and the model must actually separate target from raw. */
class DsirSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private lazy val out = Corpus.dsirSelect(spark, dir).collect()
  private lazy val lam = Corpus.fittedDsirLam.get

  /** Plain-Scala twin of the SharedHash bucket: md5 hex → first 12 chars
    * → mod P → a·x+b mod P → mod B. No Spark expressions involved. */
  private def bucketOf(g: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val h48 = java.lang.Long.parseLong(hex.substring(0, 12), 16)
    val (a, b) = Corpus.DsirSeed
    val p = graft.functions.SharedHash.P
    (((a * (h48 % p) + b) % p) % Corpus.DsirBuckets).toInt
  }

  private def gramsOf(text: String): Seq[String] = {
    val toks = text.split(" ", -1).toSeq
    toks ++ (if (toks.length >= 2) toks.sliding(2).map(_.mkString(" ")).toSeq
             else Seq.empty)
  }

  test("fitted lam replays from independent driver arithmetic") {
    out // force the query (and the stash)
    val docs = sf("documents", dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val target = graft.sources.IndexStore.standingCurationVerdicts(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val t = new Array[Long](Corpus.DsirBuckets)
    val r = new Array[Long](Corpus.DsirBuckets)
    for ((id, text) <- docs; g <- gramsOf(text)) {
      val b = bucketOf(g)
      r(b) += 1
      if (target(id)) t(b) += 1
    }
    val tTot = (t.sum + Corpus.DsirBuckets).toDouble
    val rTot = (r.sum + Corpus.DsirBuckets).toDouble
    val expect = Array.tabulate(Corpus.DsirBuckets) { b =>
      math.round((math.log((t(b) + 1.0) / tTot) -
        math.log((r(b) + 1.0) / rTot)) * 1e6)
    }
    assert(lam.toSeq == expect.toSeq)
  }

  test("per-source selection count is exactly floor(n/5)") {
    val bySrc = out.groupBy(_.getString(1))
    for ((_, rows) <- bySrc) {
      val nSel = rows.count(_.getInt(3) == 1)
      assert(nSel == rows.length / 5)
    }
    assert(out.map(_.getString(1)).distinct.length >= 2)
  }

  test("scores replay from the stashed lam and separate target from raw") {
    out
    val docs = sf("documents", dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scores = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    for ((id, text) <- docs) {
      val expect = gramsOf(text).map(g => lam(bucketOf(g))).sum
      assert(scores(id) == expect, s"doc $id")
    }
    // separation: the curated target's mean importance weight must exceed
    // the non-target mean — the model prefers docs that look curated
    val target = graft.sources.IndexStore.standingCurationVerdicts(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // per-token normalization: logw is length-additive, so compare means
    // of the per-gram average, not raw sums
    def avg(ids: Iterable[Long]) = {
      val xs = ids.map(id => scores(id).toDouble / gramsOf(docs(id)).length)
      xs.sum / xs.size
    }
    val (tgt, rest) = docs.keys.partition(target)
    assert(tgt.nonEmpty && rest.nonEmpty)
    assert(avg(tgt) > avg(rest))
  }

  test("intake: frozen-threshold gate semantics; indexed probe ≡ recompute; " +
      "standing fit excludes the delta") {
    out // ensure the full-corpus fit ran first (stash independence below)
    val fullLam = Corpus.fittedDsirLam.get.toSeq
    val rec = Corpus.dsirIntake(spark, dir).collect()
    val (standingLam, thr) = Corpus.fittedDsirIntake.get
    val thrMap = thr.toMap
    // the gate is a pure per-doc predicate over the stashed thresholds
    assert(rec.nonEmpty)
    for (r <- rec)
      assert((r.getInt(3) == 1) ==
        thrMap.get(r.getString(1)).exists(r.getLong(2) >= _))
    // delta rows are exactly the bucket-9 split
    val (delta, _) = Dedup.deltaSplit(sf("documents", dir))
    assert(rec.map(_.getLong(0)).toSet ==
      delta.select("doc_id").collect().map(_.getLong(0)).toSet)
    // something is admitted and something rejected at sf0.001
    assert(rec.exists(_.getInt(3) == 1) && rec.exists(_.getInt(3) == 0))
    // the standing fit saw a different corpus than the full-corpus fit
    assert(standingLam.toSeq != fullLam)
    // the persisted-model probe answers identically
    val idx = Corpus.dsirIntakeIndexed(spark, dir).collect()
    assert(idx.map(_.toSeq).toSeq == rec.map(_.toSeq).toSeq)
  }

  test("streaming dsir intake: stream of micro-batches ≡ the batch gate, " +
      "crash-replay rewrites identical verdicts") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("dsir-stream").toString
    val modelRoot = s"$base/model"
    val verdicts = s"$base/verdicts"
    val (lam, thr) = Corpus.dsirStandingFit(spark, dir)
    graft.sources.IndexStore.buildDsirModel(spark, lam, thr, modelRoot)
    val (delta, _) = Dedup.deltaSplit(sf("documents", dir))
    val b1 = delta.filter($"doc_id" % 2 === 0)
    val b2 = delta.filter($"doc_id" % 2 === 1)
    graft.streaming.StreamingOps.dsirIntakeBatch(b1, 1L, modelRoot, verdicts)
    graft.streaming.StreamingOps.dsirIntakeBatch(b2, 2L, modelRoot, verdicts)
    def rows(p: String) = spark.read.parquet(p)
      .select($"doc_id", $"source", $"logw_micro", $"sel").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    val streamed = rows(s"$verdicts/b=1") ++ rows(s"$verdicts/b=2")
    val batch = Corpus.dsirIntake(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSeq
    assert(streamed.sortBy(_._1) == batch.sortBy(_._1))
    // crash replay: the model is frozen, so batch 1 rewrites itself
    val v1 = rows(s"$verdicts/b=1")
    graft.streaming.StreamingOps.dsirIntakeBatch(b1, 1L, modelRoot, verdicts)
    assert(rows(s"$verdicts/b=1") == v1)
  }


  test("streaming dsir intake sink: two micro-batches on a stream write " +
      "the verdicts the direct batch calls write") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("dsir-sink").toString
    val modelRoot = s"$base/model"
    val (lam, thr) = Corpus.dsirStandingFit(spark, dir)
    graft.sources.IndexStore.buildDsirModel(spark, lam, thr, modelRoot)
    val (delta, _) = Dedup.deltaSplit(sf("documents", dir))
    val batches = Seq(delta.filter($"doc_id" % 2 === 0),
      delta.filter($"doc_id" % 2 === 1))
    runSink(batches: _*)(graft.streaming.StreamingOps.dsirIntakeSink(_,
      modelRoot, s"$base/stream")(s"$base/ckpt"))
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.StreamingOps.dsirIntakeBatch(b, i.toLong, modelRoot,
        s"$base/direct")
    }
    assert(rowsUnder(s"$base/stream").nonEmpty)
    assert(rowsUnder(s"$base/stream") === rowsUnder(s"$base/direct"))
  }

  test("bucket drift: zero on the fit corpus, detects a vocabulary shift, " +
      "refit restores it") {
    import spark.implicits._
    import graft.sources.IndexStore
    val root = java.nio.file.Files.createTempDirectory("dsir-drift").toString
    val docs = sf("documents", dir)
    val target = IndexStore.standingCurationVerdicts(spark, dir)
    val lam = Corpus.dsirFit(docs, target)
    IndexStore.buildDsirModel(spark, lam, Corpus.dsirThresholds(docs, lam),
      root, Corpus.dsirBucketCounts(docs))
    assert(IndexStore.dsirBucketDrift(spark, root, docs) == 0.0)
    assert(!IndexStore.maintainDsir(spark, root, docs, target, 0.05))
    // a corpus whose grams the fit never saw hashes ~uniformly over the
    // buckets, pulling mass off the fit distribution's hot buckets
    val alien = (0 until 200).map(i =>
      (90000L + i, "srcX", (0 until 30).map(j => s"qq${(i * 7 + j) % 90}qz")
        .mkString(" ")))
      .toDF("doc_id", "source", "text")
    val shifted = docs.select($"doc_id", $"source", $"text").unionByName(alien)
    val d = IndexStore.dsirBucketDrift(spark, root, shifted)
    assert(d > 0.01, s"drift $d")
    // threshold below the observed drift → refit runs and re-centers
    assert(IndexStore.maintainDsir(spark, root, shifted, target, d / 2))
    assert(IndexStore.dsirBucketDrift(spark, root, shifted) < 1e-12)
  }
}
