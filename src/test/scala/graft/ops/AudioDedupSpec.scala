package graft.ops

import graft.SparkSpec
import graft.sources.IndexStore.WriteMode.{Append, Build}
import org.apache.spark.sql.functions._

/** Audio near-dup family (r15): decode exactness through the real
  * RIFF/WAVE round-trip, hand-computed window statistics, the pair /
  * intake / indexed-intake contracts, and degrade-don't-crash. Value
  * equality vs DuckDB is the oracle gate's job. */
class AudioDedupSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("muxWav → javax.sound decode is the identity on samples " +
      "(decode ∘ mux = id through the real codec)") {
    val text = "hello world, this is A Test 123 #?!"
    val pcm = text.getBytes("UTF-8")
      .map(b => ((b + AudioDedup.WavByteBias) & 0xff).toByte)
    val wav = AudioDedup.muxWav(pcm)
    // container sanity: RIFF/WAVE magic where the spec puts it
    assert(new String(wav.slice(0, 4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
    val got = AudioDedup.decodeWavSamples(wav)
    assert(got.isDefined, "the JDK must decode its own mux")
    val expected = text.map(c => c.toInt - 96).toArray
    assert(got.get.toSeq === expected.toSeq,
      "decoded amplitudes must equal ord(char) − 96 exactly")
  }

  test("non-ASCII text: the synthesis byte map is UTF-8-BYTE-based — " +
      "amplitude = ((byte + 32) mod 256) − 128 per ENCODED byte, and the " +
      "sample count is the octet count (the contract the byte-based " +
      "DuckDB oracle replays — r15 ADVICE)") {
    val text = "héllo wörld 日本語 ça — test"
    val bytes = text.getBytes("UTF-8")
    assert(bytes.length > text.length,
      "fixture must be genuinely multi-byte")
    val pcm = bytes.map(b => ((b + AudioDedup.WavByteBias) & 0xff).toByte)
    val got = AudioDedup.decodeWavSamples(AudioDedup.muxWav(pcm))
    assert(got.isDefined)
    // independent replay of the byte map (NOT via the production
    // constants' code path): unsigned byte value b → ((b+32) mod 256) − 128
    val expected = bytes.map(b => (((b & 0xff) + 32) % 256) - 128)
    assert(got.get.toSeq === expected.toSeq,
      "decoded amplitudes must follow the byte map on every UTF-8 octet")
    assert(got.get.length === bytes.length,
      "one sample per ENCODED byte, not per character")
  }

  test("decodeWavSamples degrades to None on garbage, truncation, and " +
      "unsupported layouts — never throws") {
    assert(AudioDedup.decodeWavSamples(Array.emptyByteArray).isEmpty)
    assert(AudioDedup.decodeWavSamples("not a wav".getBytes).isEmpty)
    val wav = AudioDedup.muxWav("some pcm data here".getBytes)
    assert(AudioDedup.decodeWavSamples(wav.take(10)).isEmpty,
      "truncated header")
    // header claims data but carries none: zero frames → no signature
    assert(AudioDedup.decodeWavSamples(
      AudioDedup.muxWav(Array.emptyByteArray)).isEmpty)
  }

  test("windowStats: hand-computed fixture (ragged last window, empty " +
      "windows, zero-cross restart per window, measured quanta)") {
    // 40 samples: window 0 = 32 samples alternating +10/-10 (31 sign
    // flips), window 1 = 8 samples of constant 5, windows 2-7 empty
    val samples = Array.tabulate(40)(i =>
      if (i < 32) { if (i % 2 == 0) 10 else -10 } else 5)
    val (g, lv) = AudioDedup.windowStats(samples)
    assert(g(0) === 10L * 32 * 1000 / 32, "w0 energy permille = 10000")
    assert(g(8) === 31L * 1000 / 31, "w0 crossings = every step")
    assert(g(1) === 5000L, "w1 energy")
    assert(g(9) === 0L, "w1 has no sign change")
    (2 until 8).foreach { w =>
      assert(g(w) === 0L && g(8 + w) === 0L, s"empty window $w reads 0")
    }
    assert(lv(0) === (10000L / AudioDedup.AudioEnergyQuant).toInt)
    assert(lv(8) === (1000L / AudioDedup.AudioCrossQuant).toInt)
    // the cap: samples beyond AudioSampleCap are ignored
    val long = Array.fill(AudioDedup.AudioSampleCap + 500)(7)
    val (gLong, _) = AudioDedup.windowStats(long)
    assert(gLong(0) === 7000L && gLong(7) === 7000L)
  }

  test("audioDupPairs: identical-first-256-char docs pair at l1 = 0; the " +
      "probe join never invents a pair the exact scan rejects") {
    import spark.implicits._
    val prefix = (0 until 48).map(i => f"w$i%04d").mkString(" ") // 287 chars
    val docs = Seq(
      (0L, prefix + " tail one " + (0 until 40).map(i => s"a$i").mkString(" ")),
      (1L, prefix + " tail two " + (0 until 40).map(i => s"b$i").mkString(" ")),
      // all-lowercase low-amplitude words: mean |ord−96| ≈ 28 vs the
      // digit-heavy w-docs' ≈ 44 — thousands of permille units from
      // either neighbor, so the only pair is the shared-prefix one
      (2L, (0 until 80).map(_ => "qqq").mkString(" ")))
      .map { case (id, t) => (id, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("audio-pairs").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val pairs = AudioDedup.audioDupPairs(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((0L, 1L, 0L)),
      "the shared-prefix pair at l1 = 0, and nothing else")
    // exact scan agrees (precision-1 contract the dashboard asserts)
    val exact = AudioDedup.audioDupPairsExact(spark, tmp, maxId = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.toSeq === Seq((0L, 1L)))
  }

  test("audio intake: verdicts equal a driver-side recompute; indexed " +
      "probe is byte-identical; standing corpus never rescanned; append " +
      "decodes the delta only") {
    val (incA, exA) = Multimodal.mmDeltaSplit(
      AudioDedup.synthesizeWavAssets(spark, dir))
    def sigOf(a: org.apache.spark.sql.Dataset[Asset]) =
      AudioDedup.audioSigOf(a).collect()
        .map(r => r.getLong(0) ->
          (r.getSeq[Long](1).toArray, r.getSeq[Int](2).toArray)).toMap
    val incS = sigOf(incA); val exS = sigOf(exA)
    // the intake contract restated independently: candidate iff levels
    // equal or exactly one bin differs by exactly one; near iff
    // integer L1 <= eps
    val expected = incS.keys.toSeq.sorted.map { i =>
      val (gi, li) = incS(i)
      val n = exS.count { case (_, (gj, lj)) =>
        val diffs = li.indices.filter(d => li(d) != lj(d))
        val cand = diffs.isEmpty || (diffs.length == 1 &&
          math.abs(li(diffs.head) - lj(diffs.head)) == 1)
        cand && li.indices.map(d => math.abs(gi(d) - gj(d))).sum <=
          AudioDedup.AudioL1Eps
      }
      (i, n.toLong, if (n > 0) "near" else "novel")
    }
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val got = keyed(AudioDedup.audioDupIntake(spark, dir).collect())
    assert(got === expected)
    assert(got.nonEmpty, "the residue split must produce delta assets")
    val idx = keyed(AudioDedup.audioDupIntakeIndexed(spark, dir).collect())
    assert(idx === got, "probing the audio index must lose nothing")
    // the resident accessor pins an RDD (no file lineage), so provenance
    // is asserted on the persisted artifact it pinned: the index parquet
    // only, never the corpus
    assert(graft.sources.IndexStore.standingAudioSigIndex(spark, dir)
      .count() > 0)
    val direct = graft.sources.IndexStore.readAudioSig(spark,
      graft.sources.IndexStore.audioSigRoot(spark, dir))
    assert(direct.inputFiles.nonEmpty)
    assert(!direct.inputFiles.exists(_.contains("documents.parquet")),
      "the standing corpus must never be rescanned through the index")
    // append decodes only the delta payloads it is given
    import spark.implicits._
    val deltaDir = java.nio.file.Files
      .createTempDirectory("audio-delta").toString
    Tables.documents(spark, dir).filter(col("doc_id") % 5 === 0)
      .write.mode("overwrite").parquet(deltaDir)
    val deltaAssets = AudioDedup.wavAssetsOf(spark.read.parquet(deltaDir))
    val root = java.nio.file.Files
      .createTempDirectory("audio-idx").toString + "/audiosig"
    graft.sources.IndexStore.writeAudioSig(exA, root, Build)
    val appended = graft.sources.IndexStore.writeAudioSig(deltaAssets, root,
      Append)
    assert(appended.inputFiles.nonEmpty &&
      appended.inputFiles.forall(_.contains(deltaDir)),
      "append must read the delta only")
  }

  test("empty input: signature, pairs, and bound are empty-safe") {
    import spark.implicits._
    val empty = spark.emptyDataset[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("audio-empty").toString
    empty.write.parquet(s"$tmp/documents.parquet")
    assert(AudioDedup.audioSignatures(spark, tmp).count() === 0L)
    assert(AudioDedup.audioDupPairs(spark, tmp).count() === 0L)
    assert(AudioDedup.audioDupPairsExact(spark, tmp).count() === 0L)
    val bound = Multimodal.mmDupBound(spark, tmp).collect()
    assert(bound.length === 1 && bound(0).getLong(0) === 0L,
      "the scout reports a zero-asset corpus, not an empty frame")
    val aBound = AudioDedup.audioDupBound(spark, tmp).collect()
    assert(aBound.length === 1 && aBound(0).getLong(0) === 0L,
      "the audio scout reports a zero-asset corpus, not an empty frame")
  }

  test("anchored signature catches a leading-silence-shifted copy the " +
      "aligned grid misses (r15 verdict #4) — and documents the gap") {
    import spark.implicits._
    // base recording starts loud ('t' decodes to amplitude 20); the
    // shifted copy prepends 40 silence samples (backtick = amplitude 0,
    // inside the |amp| <= 1 silence band) — a full window-and-a-quarter
    // of leader, the trimmed-re-encode shape
    val base = Seq.fill(8)("the quick brown fox jumps over the lazy dog")
      .mkString(" ")
    val shifted = "`" * 40 + base
    assert(base.getBytes("UTF-8").length > AudioDedup.AudioSampleCap,
      "fixture must fill the whole sample window")
    val tmp = java.nio.file.Files.createTempDirectory("audio-anchor").toString
    Seq((1L, base, "en", "srcA", base.length.toLong),
        (2L, shifted, "en", "srcA", shifted.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")

    // onsets: the loud opener anchors at 0, the padded copy at 40
    val onsets = AudioDedup.audioSignaturesAnchored(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(onsets(1L) === 0 && onsets(2L) === 40)

    // the ALIGNED exact scan rejects the pair (shifted grids differ far
    // beyond eps) — the documented gap
    assert(AudioDedup.audioDupPairsExact(spark, tmp).count() === 0L,
      "the aligned signature must miss the shifted copy")
    // the ANCHORED scan and the anchored probe join both catch it at
    // l1 = 0: identical samples under the shifted grid
    val exactA = AudioDedup.audioDupPairsAnchoredExact(spark, tmp).collect()
    assert(exactA.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((1L, 2L, 0L)))
    val probeA = AudioDedup.audioDupPairsAnchored(spark, tmp).collect()
    assert(probeA.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((1L, 2L, 0L)),
      "the anchored probe join must catch the shifted copy")
  }

  test("mm_audio_bound prices the candidate join: bounds dominate the " +
      "actually-emitted pair count on the real corpus (r15 verdict #3)") {
    val b = AudioDedup.audioDupBound(spark, dir).collect()(0)
    val nAssets = b.getAs[Long]("n_assets")
    val exactBound = b.getAs[Long]("exact_pair_bound")
    val verifyBound = b.getAs[Long]("verify_bound")
    // undecodable assets carry no signature, so n_assets counts the
    // SIGNATURE space (= all docs on this corpus: every text is non-empty)
    assert(nAssets === Tables.documents(spark, dir).count())
    assert(verifyBound >= exactBound)
    // every emitted pair was an exact-key or probe candidate, so the
    // aggregate-only bound must cover the materialized join's output
    val actualPairs = AudioDedup.audioDupPairs(spark, dir).count()
    assert(verifyBound >= actualPairs,
      s"scout bound $verifyBound must cover the $actualPairs emitted pairs")
  }

  test("mm_dup_bound prices the candidate join: bounds dominate the " +
      "actual pair counts on the real corpus") {
    val b = Multimodal.mmDupBound(spark, dir).collect()(0)
    val nAssets = b.getAs[Long]("n_assets")
    val exactBound = b.getAs[Long]("exact_pair_bound")
    val verifyBound = b.getAs[Long]("verify_bound")
    assert(nAssets === Tables.documents(spark, dir).count())
    assert(verifyBound >= exactBound)
    // the bound must dominate the materialized candidate set: every
    // emitted pair was either an exact-key or probe candidate
    val actualPairs = Multimodal.mmDupPairs(spark, dir).count()
    assert(verifyBound >= actualPairs,
      s"scout bound $verifyBound must cover the $actualPairs emitted pairs")
  }
}
