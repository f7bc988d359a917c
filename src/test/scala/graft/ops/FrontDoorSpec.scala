package graft.ops

import graft.SparkSpec
import graft.sources.IndexStore.WriteMode.Build
import org.apache.spark.sql.functions._

/** Round-13 flagship: the composed intake front door (corpus_front_door)
  * — value-level equality is the DuckDB oracle gate's job; these pin the
  * composition contract (each column equals its standalone member), the
  * gates firing on a constructed corpus, and the streaming twin's
  * stream ≡ batch / crash-replay guarantees. */
class FrontDoorSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def residueOf(ids: Seq[Long]): Map[Long, Long] = {
    import spark.implicits._
    val h = graft.functions.SharedHash.spark48("cast(id AS string)")
    ids.toDF("id").withColumn("r", expr(s"pmod($h, 10)"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** (mod-10, mod-3) residues — the audio-gate fixtures need ids that are
    * simultaneously delta (r10 = 9) and audio-modality (r3 = 2). */
  private def residue2Of(ids: Seq[Long]): Map[Long, (Long, Long)] = {
    import spark.implicits._
    val h = graft.functions.SharedHash.spark48("cast(id AS string)")
    ids.toDF("id")
      .withColumn("r", expr(s"pmod($h, 10)"))
      .withColumn("m", expr(s"pmod($h, 3)"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("frontDoor: one row per delta doc; triage and dsir columns equal " +
      "their standalone members, the ppl column equals the out-of-sample " +
      "gate's own artifact, admitted is exactly the conjunction") {
    val out = Corpus.frontDoor(spark, dir).collect()
    val (delta, _) = Dedup.deltaSplit(Tables.documents(spark, dir))
    assert(out.length.toLong === delta.count(), "one verdict row per delta doc")

    val triage = Dedup.incrementalDedupIndexed(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val dsir = Corpus.dsirIntakeIndexed(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    // gate 3 expectation from the independently re-read artifact (LM fit
    // on residues 0-7, thresholds from the held-out benchmark residue)
    val art = graft.sources.IndexStore.standingFrontDoorPpl(spark, dir)
    val ppl = TermScoring.bucketBy(
        TermScoring.lmScoreWith(
            delta.select(col("doc_id"), split(col("text"), " ").as("toks")),
            art.model)
          .select(col("doc_id"), col("lm_score"))
          .join(TextAnalysis.predictedLang(delta), "doc_id"),
        art.thresholds)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap

    // gate 5 expectation from the standalone mm member: image-modality
    // delta assets triaged against the standing phash index
    val mm = Multimodal.mmDupIntakeIndexed(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val mod3 = {
      import spark.implicits._
      val h = graft.functions.SharedHash.spark48("cast(id AS string)")
      out.map(_.getLong(0)).toSeq.toDF("id")
        .withColumn("m", expr(s"pmod($h, 3)"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    // gate 6 expectation from the standalone battery over the delta
    val gopher = TextAnalysis.gopherRulesOf(delta).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("admitted")).toMap

    // gate 7 expectation from the standalone audio member: audio-modality
    // delta assets triaged against the standing audio-signature index
    val au = AudioDedup.audioDupIntakeIndexed(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap

    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) === triage(id), s"doc $id: triage verdict")
      assert(r.getString(3) === ppl.getOrElse(id, "unscored"),
        s"doc $id: ppl bucket")
      assert(r.getInt(4) === dsir(id), s"doc $id: dsir_sel")
      assert(r.getString(5) === (mod3(id) match {
        case 0 => "image"; case 1 => "text"; case _ => "audio"
      }), s"doc $id: modality")
      assert(r.getString(6) ===
        (if (mod3(id) == 0) mm(id) else "n/a"),
        s"doc $id: mm_verdict must equal the standalone mm member")
      assert(r.getString(7) ===
        (if (mod3(id) == 2) au(id) else "n/a"),
        s"doc $id: audio_verdict must equal the standalone audio member")
      assert(r.getBoolean(8) === gopher(id),
        s"doc $id: gopher_ok must equal the standalone rule battery")
      assert(r.getBoolean(9) === (r.getString(1) == "novel" &&
        !r.getBoolean(2) && Set("head", "middle")(r.getString(3)) &&
        r.getInt(4) == 1 &&
        (r.getString(5) != "image" || r.getString(6) == "novel") &&
        (r.getString(5) != "audio" || r.getString(7) == "novel") &&
        r.getBoolean(8)),
        s"doc $id: admitted must be the seven-gate conjunction")
    }
    // the out-of-sample threshold fix is the point: the gate must not
    // degenerate into the all-tail verdict in-sample edges produce
    // (measured 46/48 at sf0.01 before the fix)
    val buckets = out.map(_.getString(3)).toSet
    assert((buckets - "unscored").size >= 2,
      s"ppl gate degenerate: every delta doc in $buckets")
  }

  test("frontDoor contamination flags only true jaccard-threshold " +
      "benchmark matches (driver-side recompute)") {
    val out = Corpus.frontDoor(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val docs = Tables.documents(spark, dir)
    val h = graft.functions.SharedHash.spark48("cast(doc_id AS string)")
    val delta = docs.filter(expr(s"pmod($h, 10)") === 9)
    val bench = docs.filter(
      expr(s"pmod($h, 10)") === Corpus.FrontDoorBenchBucket)
    // flagged ==> true pair (the band gate may MISS true pairs — that is
    // its recall, priced in the recall dashboards — but must never
    // invent one; gate firing is pinned by the constructed-corpus test)
    val exactPairs = Dedup.shingled(delta)
      .select(col("doc_id"), col("sh").as("sh_a"))
      .crossJoin(Dedup.shingled(bench)
        .select(col("doc_id").as("bench_id"), col("sh").as("sh_b")))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .filter(col("jaccard") >= Dedup.JaccardThreshold)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    out.foreach { case (id, flagged) =>
      if (flagged) assert(exactPairs(id),
        s"doc $id flagged without a true threshold match")
    }
  }

  test("constructed corpus: every gate fires — a benchmark near-copy is " +
      "contaminated, a standing copy is exact, clean docs can be admitted") {
    import spark.implicits._
    val res = residueOf(0L until 400L)
    def pick(r: Long, n: Int): Seq[Long] =
      res.collect { case (id, rr) if rr == r => id }.toSeq.sorted.take(n)
    val deltaIds = pick(9, 5)
    val benchIds = pick(Corpus.FrontDoorBenchBucket, 3)
    val standingIds = (0L to 7L).flatMap(pick(_, 4))
    // gate-7 fixtures: delta ids that are ALSO audio-modality (r3 = 2),
    // disjoint from the five general delta docs; plus one extra standing
    // id to carry the shared-prefix audio source
    val res2 = residue2Of(0L until 1000L)
    val audioDeltaIds = res2.collect {
      case (id, (9L, 2L)) if !deltaIds.contains(id) => id
    }.toSeq.sorted.take(3)
    assert(audioDeltaIds.size === 3, "need three audio-modality delta ids")
    val audioSrcId =
      res.collect { case (id, rr) if rr == 3L => id }.toSeq.sorted.drop(4).head
    // 60 words with two required stopwords: clean docs must be able to
    // clear the gopher battery (gate 6), not just the dedup gates
    val base = (Seq("the", "of") ++ (0 until 58).map(i => s"w$i")).mkString(" ")
    def mutated(tag: String) = base.split(" ").dropRight(1).mkString(" ") +
      s" $tag"
    // delta doc 0: near-copy of a benchmark doc -> contaminated
    // delta doc 1: byte-copy of a standing doc  -> exact
    // delta docs 2,3: fresh text                 -> novel, clean
    val benchTexts = benchIds.zipWithIndex.map { case (id, i) =>
      (id, if (i == 0) base else s"bench unique text $i " + base.reverse) }
    val standingTexts = standingIds.zipWithIndex.map { case (id, i) =>
      (id, if (i == 0) s"standing copy source ${mutated("zz")}"
           else (0 until 30).map(j => s"s${i}_$j").mkString(" ")) }
    val deltaTexts = Seq(
      (deltaIds(0), mutated("qq")), // ~0.9 jaccard vs bench base
      (deltaIds(1), standingTexts.head._2), // exact standing copy
      (deltaIds(2),
        (Seq("the", "of") ++ (0 until 58).map(j => s"d2_$j")).mkString(" ")),
      (deltaIds(3),
        (Seq("the", "of") ++ (0 until 58).map(j => s"d3_$j")).mkString(" ")),
      // gopher violator: 60 words, stopwords present, but one bigram
      // repeated end to end — the dup-2-gram rule must reject it alone
      (deltaIds(4),
        (Seq("the", "of") ++ Seq.fill(29)(Seq("abcd", "defg")).flatten)
          .mkString(" ")))
    // gate-7 fixtures: the audio fingerprint reads the FIRST 256 chars
    // only, so a delta doc sharing the standing source's 50-word prefix
    // but with 300 fresh tail words is AUDIO-near (identical signature,
    // L1 = 0) while TEXT-novel (3-gram jaccard ≈ 0.07 « 0.3) — the one
    // construction that makes gate 7 the sole rejector
    val audioPrefix =
      (Seq("the", "of") ++ (0 until 48).map(i => f"aup$i%03d")).mkString(" ")
    val audioSrcText = audioPrefix + " " +
      (0 until 300).map(i => f"aus$i%04d").mkString(" ")
    val audioNearText = audioPrefix + " " +
      (0 until 300).map(i => f"aud$i%04d").mkString(" ")
    val audioFreshText = (Seq("the", "of") ++
      (0 until 348).map(i => f"auf$i%04d")).mkString(" ")
    // the UNDECODABLE case (r15 ADVICE): an empty-text audio-modality
    // delta doc synthesizes a zero-sample WAV, which javax.sound cannot
    // decode — no signature row, declared verdict 'n/a', never admitted
    val audioTexts = Seq((audioSrcId, audioSrcText),
      (audioDeltaIds(0), audioNearText), (audioDeltaIds(1), audioFreshText),
      (audioDeltaIds(2), ""))
    val tmp = java.nio.file.Files.createTempDirectory("fd-gates").toString
    (benchTexts ++ standingTexts ++ deltaTexts ++ audioTexts)
      .map { case (id, t) => (id, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")

    val out = Corpus.frontDoor(spark, tmp).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getBoolean(2), r.getString(3), r.getString(7),
          r.getBoolean(8), r.getBoolean(9)))
      .toMap
    assert(out.size === 8)
    // the bench near-copy also shares bands with the standing base? no —
    // base lives ONLY in the bench slice, so the triage verdict stays on
    // its own merits while the contamination gate must fire
    assert(out(deltaIds(0))._2, "benchmark near-copy must be contaminated")
    assert(out(deltaIds(1))._1 === "exact", "standing byte-copy is exact")
    assert(!out(deltaIds(1))._6, "an exact dup is never admitted")
    assert(!out(deltaIds(0))._6, "a contaminated doc is never admitted")
    assert(Seq(deltaIds(2), deltaIds(3)).forall(id => !out(id)._2),
      "fresh docs are clean")
    assert(Seq(deltaIds(2), deltaIds(3)).forall(id => out(id)._5),
      "clean 60-word docs clear the gopher battery")
    assert(!out(deltaIds(4))._5 && !out(deltaIds(4))._6,
      "the repeated-bigram doc is rejected by gate 6 alone")
    assert(!out(deltaIds(4))._2 && out(deltaIds(4))._1 === "novel",
      "…and by NOTHING else: it is novel and clean")
    // gate 7: the shared-prefix doc is rejected by the AUDIO gate alone —
    // text-novel, clean, gopher-ok, yet audio-near and therefore refused
    val auNear = out(audioDeltaIds(0))
    assert(auNear._4 === "near",
      "identical-first-256-chars audio must triage near")
    assert(auNear._1 === "novel" && !auNear._2 && auNear._5,
      "the audio near-dup is text-novel, clean, and gopher-ok")
    assert(!auNear._6, "…so gate 7 alone rejects it")
    assert(out(audioDeltaIds(1))._4 === "novel",
      "fresh audio-modality content reads novel")
    // the undecodable audio doc: declared semantics are 'n/a' + reject
    // (conservative — it can't be triaged), matching the oracle's
    // no-signature-row CASE (r15 ADVICE)
    val auEmpty = out(audioDeltaIds(2))
    assert(auEmpty._4 === "n/a",
      "an undecodable (zero-sample) audio asset reads 'n/a'")
    assert(!auEmpty._6, "…and is never admitted")
  }

  test("streaming front door: micro-batches ≡ the batch gate, " +
      "crash-replay rewrites identical verdicts (stateless frozen gates)") {
    import spark.implicits._
    import graft.sources.IndexStore
    val base = java.nio.file.Files.createTempDirectory("front-door").toString
    val docs = sf("documents", dir)
    val (delta, standing) = Dedup.deltaSplit(docs)
    IndexStore.writeDedup(standing, s"$base/dedup", Build)
    val h = graft.functions.SharedHash.spark48("cast(doc_id AS string)")
    IndexStore.buildPpl(docs.filter(expr(s"pmod($h, 10)") < 8), s"$base/ppl",
      thrDocs = Some(docs.filter(
        expr(s"pmod($h, 10)") === Corpus.FrontDoorBenchBucket)))
    val (lam, thr) = Corpus.dsirStandingFit(spark, dir)
    IndexStore.buildDsirModel(spark, lam, thr, s"$base/dsir")
    // gate 5's frozen artifact: the standing assets' phash signatures
    IndexStore.writePhash(Multimodal.assetsOf(standing), s"$base/phash", Build)
    // gate 7's frozen artifact: the standing assets' audio fingerprints
    IndexStore.writeAudioSig(AudioDedup.wavAssetsOf(standing),
      s"$base/audio", Build)
    val verdicts = s"$base/verdicts"
    val b1 = delta.filter($"doc_id" % 2 === 0)
    val b2 = delta.filter($"doc_id" % 2 === 1)
    graft.streaming.StreamingOps.frontDoorBatch(
      b1, 1L, s"$base/dedup", s"$base/ppl", s"$base/dsir", s"$base/phash",
      s"$base/audio", verdicts)
    graft.streaming.StreamingOps.frontDoorBatch(
      b2, 2L, s"$base/dedup", s"$base/ppl", s"$base/dsir", s"$base/phash",
      s"$base/audio", verdicts)
    def rows(p: String) = spark.read.parquet(p)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getString(3), r.getInt(4), r.getString(5), r.getString(6),
        r.getString(7), r.getBoolean(8), r.getBoolean(9))).sortBy(_._1).toSeq
    val streamed = (rows(s"$verdicts/b=1") ++ rows(s"$verdicts/b=2"))
      .sortBy(_._1)
    val batch = Corpus.frontDoor(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getString(3), r.getInt(4), r.getString(5), r.getString(6),
        r.getString(7), r.getBoolean(8), r.getBoolean(9))).toSeq.sortBy(_._1)
    assert(streamed == batch)
    // crash replay: all gates frozen, so batch 1 rewrites itself
    val v1 = rows(s"$verdicts/b=1")
    graft.streaming.StreamingOps.frontDoorBatch(
      b1, 1L, s"$base/dedup", s"$base/ppl", s"$base/dsir", s"$base/phash",
      s"$base/audio", verdicts)
    assert(rows(s"$verdicts/b=1") == v1)
  }

  test("streaming front door sink: two micro-batches on a stream write " +
      "the verdicts the direct batch calls write") {
    import spark.implicits._
    import graft.sources.IndexStore
    val base = java.nio.file.Files.createTempDirectory("front-sink").toString
    val docs = sf("documents", dir)
    val (delta, standing) = Dedup.deltaSplit(docs)
    IndexStore.writeDedup(standing, s"$base/dedup", Build)
    val h = graft.functions.SharedHash.spark48("cast(doc_id AS string)")
    IndexStore.buildPpl(docs.filter(expr(s"pmod($h, 10)") < 8), s"$base/ppl",
      thrDocs = Some(docs.filter(
        expr(s"pmod($h, 10)") === Corpus.FrontDoorBenchBucket)))
    val (lam, thr) = Corpus.dsirStandingFit(spark, dir)
    IndexStore.buildDsirModel(spark, lam, thr, s"$base/dsir")
    IndexStore.writePhash(Multimodal.assetsOf(standing), s"$base/phash",
      Build)
    IndexStore.writeAudioSig(AudioDedup.wavAssetsOf(standing),
      s"$base/audio", Build)
    val roots = Seq("dedup", "ppl", "dsir", "phash", "audio")
      .map(r => s"$base/$r")
    val batches = Seq(delta.filter($"doc_id" % 2 === 0),
      delta.filter($"doc_id" % 2 === 1))
    runSink(batches: _*)(graft.streaming.StreamingOps.frontDoorSink(_,
      roots(0), roots(1), roots(2), roots(3), roots(4),
      s"$base/stream")(s"$base/ckpt"))
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.StreamingOps.frontDoorBatch(b, i.toLong, roots(0),
        roots(1), roots(2), roots(3), roots(4), s"$base/direct")
    }
    assert(rowsUnder(s"$base/stream").nonEmpty)
    assert(rowsUnder(s"$base/stream") === rowsUnder(s"$base/direct"))
  }
}
