package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Audio near-duplicate family — the modality tier audio was missing
  * (r14 verdict: text has minhash/prefix/winnow, vectors the LSH suite,
  * images the phash family; duplicated audio sailed through the front
  * door).
  *
  * Signature: the decoded PCM stream's first [[AudioSampleCap]] samples
  * split into [[AudioWindows]] fixed windows; per window two EXACT
  * integer statistics — mean |amplitude| (energy) and zero-crossing
  * density — in permille units, plus a coarse quantized level per
  * statistic. The 16 levels pack into the same 48-char key the image
  * family uses, so candidates come from the identical scale-safe
  * machinery: a plain equi-join on the exact key plus the ±1-one-bin
  * probe neighborhood ([[Multimodal.MmProbeExpr]] — full-key equality
  * cannot collision-floor), verified by an exact integer L1 threshold.
  * Windowed energy/zero-cross in fixed windows is the standard cheap
  * audio fingerprint shape (alignment-sensitive by design — a shifted
  * recording is a different signature, like any fingerprint without
  * beat alignment).
  *
  * Decode is REAL: assets are RIFF/WAVE containers ([[muxWav]] writes
  * them; the harness synthesizes one per document with PCM data derived
  * deterministically from the text bytes) and [[decodeWavSamples]] reads
  * them back through JDK javax.sound. Because the container round-trip
  * is lossless and the synthesis rule is a known byte map, the DuckDB
  * oracle can recompute every window statistic directly from the text —
  * a hash match PROVES decode ∘ mux = id through the codec, the same
  * contract as the PNG video-frame family ([[Mp4]]). Nothing is fitted,
  * so build, append, and in-query recompute produce the same signature
  * row — the `_indexed` intake shares the recompute form's oracle.
  *
  * Scale notes: payload bytes never shuffle — signatures are extracted
  * in one narrow mapPartitions pass and only (asset_id, 16 longs, 16
  * ints, 48-char key) flows downstream; the persisted signature index
  * ([[graft.sources.IndexStore.writeAudioSig]]) means standing audio is
  * decoded once, at index time.
  */
object AudioDedup {

  /** Signature geometry: first 256 decoded samples, 8 windows of 32.
    * Bounded-by-constant per-asset work on BOTH engines (the oracle
    * replays ≤256 positions per document regardless of corpus scale). */
  val AudioSampleCap = 256
  val AudioWindow = 32
  val AudioWindows = 8

  /** Exact-verify threshold: integer L1 over the 16 permille window
    * statistics. Calibrated like [[Multimodal.MmDupL1Eps]], by
    * measurement (BENCH.md, "Deleted one-off tools": AudioEpsCalib at
    * sf0.01, domain 300): exact duplicate-prefix assets sit at 0; the
    * random-pair 1st percentile is
    * ≈ 6,100 and the NN median ≈ 6,200 — 2,000 admits a few-edit prefix
    * (26 true pairs in the calibration domain) while rejecting the
    * unrelated-pair floor. */
  val AudioL1Eps = 2000L

  /** Level quanta for the probe KEY, chosen by the same measured sweep
    * (BENCH.md, AudioEpsCalib): the exact-or-±1-one-bin window must cover
    * pairs inside [[AudioL1Eps]] (quantum ≈ eps per energy bin ⇒ a one-bin
    * eps-sized difference moves that bin by ≤ 1 level) without
    * collision-flooring the exact-key buckets. Measured at sf0.01:
    * (4000, 125) → window-recall 20/26 with maxBucket 4 / Σc(c−1)/2 = 54
    * (duplicate-shaped); the coarser cross quanta (250, 500) reach
    * recall 1.0 but put 12–50% of the corpus in ONE bucket — the
    * collision floor the phash scaladoc warns about. Energy stats span
    * 0..128,000 permille (→ levels 0..32); cross stats 0..1,000
    * (→ 0..8). */
  val AudioEnergyQuant = 4000L
  val AudioCrossQuant = 125L

  /** Silence floor for the ANCHORED variant's onset: the first sample
    * with |amplitude| ≥ this anchors the window grid (|amp| ≤ 1 — PCM
    * within ±1 of center — is the classic leading-silence band a
    * trimmed/padded re-encode prepends; under the synthesis byte map
    * that band is exactly the chars {'_', '`', 'a'}). */
  val AudioOnsetAbsMin = 2

  /** The onset search is BOUNDED to the first [[AudioAnchorScan]]
    * samples (a trimmed leader is short; an unbounded scan would make
    * per-asset work grow with payload size on both engines — the
    * bounded-by-constant contract the oracle replays). No qualifying
    * sample within the scan ⇒ onset 0 (the aligned behavior). */
  val AudioAnchorScan = 256

  /** PCM byte map for the synthesized assets: sample byte = text byte
    * + 32 (8-bit UNSIGNED PCM stores sample s as s + 128, so the decoded
    * centered amplitude is ord(char) − 96). 96 sits inside the printable
    * ASCII band, so lowercase letters decode positive and spaces/digits/
    * punctuation negative — zero crossings then carry real text shape
    * (word boundaries) instead of collapsing to zero as an ord−128 map
    * would on all-ASCII payloads. */
  val WavByteBias = 32

  /** Mux raw unsigned 8-bit PCM sample bytes into a standard RIFF/WAVE
    * container (mono, 8 kHz, 8-bit — the canonical javax.sound-decodable
    * layout). Pure JDK byte packing, little-endian per the RIFF spec. */
  def muxWav(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(44 + data.length)
    def s4(v: String): Unit = out.write(v.getBytes("US-ASCII"))
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    s4("RIFF"); u32(36L + data.length); s4("WAVE")
    s4("fmt "); u32(16L)
    u16(1) // PCM
    u16(1) // mono
    u32(8000L) // sample rate
    u32(8000L) // byte rate (rate * block align)
    u16(1) // block align
    u16(8) // bits per sample
    s4("data"); u32(data.length.toLong)
    out.write(data)
    out.toByteArray
  }

  /** REAL decode via JDK javax.sound: WAV bytes → centered integer
    * amplitudes. 8-bit unsigned → (raw & 0xff) − 128; 16-bit PCM →
    * signed short (unsigned re-centered), both endiannesses — the same
    * envelope [[Multimodal.decodeAudio]] accepts, kept integral because
    * the signature arithmetic must be exact on both engines. None for
    * anything the JDK can't parse as PCM RIFF/WAVE — degrade, don't
    * crash a 100 TB job on one bad file. */
  def decodeWavSamples(content: Array[Byte]): Option[Array[Int]] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val ais =
      try AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      catch { case scala.util.control.NonFatal(_) => null }
    if (ais == null) return None
    try {
      val fmt = ais.getFormat
      val enc = fmt.getEncoding
      val signed = enc == AudioFormat.Encoding.PCM_SIGNED
      val unsigned = enc == AudioFormat.Encoding.PCM_UNSIGNED
      val bits = fmt.getSampleSizeInBits
      val ch = fmt.getChannels
      if ((!signed && !unsigned) || (bits != 8 && bits != 16) || ch != 1)
        return None
      val raw = ais.readAllBytes()
      val bps = bits / 8
      val n = raw.length / bps
      if (n == 0) return None
      val big = fmt.isBigEndian
      val out = new Array[Int](n)
      var i = 0
      while (i < n) {
        val off = i * bps
        out(i) =
          if (bits == 8)
            if (signed) raw(off).toInt else (raw(off) & 0xff) - 128
          else {
            val (lo, hi) = if (big) (off + 1, off) else (off, off + 1)
            val s = ((raw(hi).toInt << 8) | (raw(lo) & 0xff)).toShort.toInt
            if (signed) s
            else ((raw(hi) & 0xff) << 8 | (raw(lo) & 0xff)) - 32768
          }
        i += 1
      }
      Some(out)
    } catch { case scala.util.control.NonFatal(_) => None }
    finally ais.close()
  }

  /** Synthesize one WAV asset per document (deterministic: PCM data =
    * text bytes shifted by [[WavByteBias]], muxed into a real RIFF
    * container) — stands in for reading a crawl's audio files, exactly
    * as [[Multimodal.synthesizeAssets]] stands in for binaryFile. */
  def synthesizeWavAssets(s: SparkSession, dir: String): Dataset[Asset] =
    wavAssetsOf(Tables.documents(s, dir))

  /** The WAV-asset view of an arbitrary document frame — the per-batch
    * form the front door's audio gate runs on a delta batch. */
  def wavAssetsOf(docs: DataFrame): Dataset[Asset] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val pcm = new Array[Byte](bytes.length)
        var i = 0
        while (i < bytes.length) {
          pcm(i) = ((bytes(i) + WavByteBias) & 0xff).toByte
          i += 1
        }
        val wav = muxWav(pcm)
        Asset(id, "audio/wav", wav.length.toLong, wav)
      }
  }

  /** Per-window exact statistics over decoded samples: for window w of
    * the first [[AudioSampleCap]] samples, `g` holds
    * [energy_0..energy_7, cross_0..cross_7] in permille units
    * (sumAbs·1000/len, crossings·1000/(len−1); empty/singleton windows
    * read 0) and `lv` the coarse levels derived from `g` by the measured
    * quanta (ge div [[AudioEnergyQuant]], gc div [[AudioCrossQuant]])
    * that pack into the 48-char probe key. All integer division, floor
    * semantics on both engines. */
  private[graft] def windowStats(samples: Array[Int])
      : (Array[Long], Array[Int]) = {
    val g = new Array[Long](2 * AudioWindows)
    val lv = new Array[Int](2 * AudioWindows)
    val n = math.min(samples.length, AudioSampleCap)
    var w = 0
    while (w < AudioWindows) {
      val from = w * AudioWindow
      val until = math.min(n, from + AudioWindow)
      val len = math.max(0, until - from)
      var sumAbs = 0L
      var cross = 0L
      var i = from
      while (i < until) {
        sumAbs += math.abs(samples(i))
        if (i > from && (samples(i) >= 0) != (samples(i - 1) >= 0)) cross += 1
        i += 1
      }
      if (len > 0) g(w) = sumAbs * 1000L / len
      if (len > 1) g(AudioWindows + w) = cross * 1000L / (len - 1)
      lv(w) = (g(w) / AudioEnergyQuant).toInt
      lv(AudioWindows + w) = (g(AudioWindows + w) / AudioCrossQuant).toInt
      w += 1
    }
    (g, lv)
  }

  /** Energy-onset anchor (r15 verdict #4): index of the first sample in
    * the first [[AudioAnchorScan]] whose |amplitude| clears the silence
    * floor [[AudioOnsetAbsMin]]; 0 if none does. Anchoring the window
    * grid here makes the signature invariant to a leading-silence shift
    * (a trimmed or padded re-encode), which the ALIGNED signature
    * concedes it cannot catch ([[windowStats]]' fixed grid). Same exact
    * integer machinery, so the anchored family stays fully oracle-able. */
  private[graft] def onsetOf(samples: Array[Int]): Int = {
    val scan = math.min(samples.length, AudioAnchorScan)
    var i = 0
    while (i < scan) {
      if (math.abs(samples(i)) >= AudioOnsetAbsMin) return i
      i += 1
    }
    0
  }

  /** [[windowStats]] over the onset-anchored sample window
    * [onset, onset + [[AudioSampleCap]]): identical statistics on a
    * shifted grid — two recordings differing only by a leading-silence
    * pad anchor to the same samples and collide at L1 = 0. Returns the
    * onset too (first-class in the signature query: a consumer can see
    * WHY two shifted assets matched). */
  private[graft] def anchoredWindowStats(samples: Array[Int])
      : (Int, Array[Long], Array[Int]) = {
    val o = onsetOf(samples)
    val end = math.min(samples.length, o + AudioSampleCap)
    val (g, lv) = windowStats(java.util.Arrays.copyOfRange(samples, o, end))
    (o, g, lv)
  }

  /** asset → signature frame (asset_id, g, lv, k): decode per partition
    * (one codec init, batch loop inside — the mapPartitions shape), then
    * the window statistics and the packed 48-char key. Assets the JDK
    * can't decode are DROPPED from the signature space (an undecodable
    * payload has no audio content to dedup against; the feature query
    * [[Multimodal.extractFeatures]] keeps its stub fallback for them).
    * This is the unit the in-query operators compute and the persisted
    * audio index stores — nothing fitted, so build/append/recompute all
    * yield the same row for an asset. */
  def audioSigOf(assets: Dataset[Asset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        decodeWavSamples(a.content).map { samples =>
          val (g, lv) = windowStats(samples)
          val k = lv.map(l => f"$l%03d").mkString
          (a.asset_id, g, lv, k)
        }
      }
    }.toDF("asset_id", "g", "lv", "k")
  }

  /** The anchored twin of [[audioSigOf]]: (asset_id, onset, g, lv, k)
    * via [[anchoredWindowStats]]. Same decode pass, same drop-undecodable
    * contract, same key packing — only the window grid's origin moves. */
  def audioSigAnchoredOf(assets: Dataset[Asset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        decodeWavSamples(a.content).map { samples =>
          val (o, g, lv) = anchoredWindowStats(samples)
          val k = lv.map(l => f"$l%03d").mkString
          (a.asset_id, o, g, lv, k)
        }
      }
    }.toDF("asset_id", "onset", "g", "lv", "k")
  }

  private def sigFrame(s: SparkSession, dir: String,
      maxId: Option[Long] = None): DataFrame = {
    // domain restriction BEFORE synthesis/decode — mapPartitions walls
    // off pushdown, so a post-decode filter would decode the whole
    // corpus for a bounded-domain report (the emb_dup_recall r10 lesson)
    val docs = maxId.foldLeft(Tables.documents(s, dir))(
      (d, m) => d.filter(col("doc_id") < m))
    audioSigOf(wavAssetsOf(docs))
  }

  private def sigFrameAnchored(s: SparkSession, dir: String,
      maxId: Option[Long] = None): DataFrame = {
    // same pre-decode domain wall as sigFrame
    val docs = maxId.foldLeft(Tables.documents(s, dir))(
      (d, m) => d.filter(col("doc_id") < m))
    audioSigAnchoredOf(wavAssetsOf(docs))
  }

  /** Per-asset audio fingerprint (`mm_audio_sig`) — the dedup signature
    * as a first-class query, fully hash-oracled (the synthesis byte map
    * is known, so DuckDB replays the window statistics from the text). */
  def audioSignatures(s: SparkSession, dir: String): DataFrame =
    sigFrame(s, dir)
      .select(col("asset_id"), col("k").as("audio_fp"),
        col("g")(0).as("energy0_permille"),
        col("g")(AudioWindows).as("cross0_permille"))
      .orderBy(col("asset_id"))

  /** Per-asset ANCHORED fingerprint (`mm_audio_sig_anchored`) — the
    * offset-robust signature as a first-class query, onset included,
    * fully hash-oracled like the aligned one. */
  def audioSignaturesAnchored(s: SparkSession, dir: String): DataFrame =
    sigFrameAnchored(s, dir)
      .select(col("asset_id"), col("onset"), col("k").as("audio_fp"),
        col("g")(0).as("energy0_permille"),
        col("g")(AudioWindows).as("cross0_permille"))
      .orderBy(col("asset_id"))

  private val AudioL1 = "aggregate(zip_with(ga, gb, (x, y) -> abs(x - y)), " +
    "cast(0 AS BIGINT), (acc, x) -> acc + x)"

  /** Audio near-duplicate pairs (`mm_audio_pairs`): exact-or-±1-one-bin
    * key candidates (the image family's probe machinery verbatim —
    * [[Multimodal.MmProbeExpr]] over (lv, k)) verified by the exact
    * integer L1 ≤ [[AudioL1Eps]] over the permille statistics. Same
    * quadratic-bounding `maxId` domain knob and same per-doc candidate
    * budget as [[Multimodal.mmDupPairs]]. */
  def audioDupPairs(s: SparkSession, dir: String,
      maxId: Option[Long] = None,
      maxCandidatesPerDoc: Option[Int] = None): DataFrame =
    dupPairsOverSig(sigFrame(s, dir, maxId), maxCandidatesPerDoc)

  /** [[audioDupPairs]] over the ANCHORED signatures
    * (`mm_audio_pairs_anchored`): catches leading-silence-shifted
    * duplicates the aligned grid misses, same probe/verify machinery and
    * the same knobs. Both variants ship because the anchored grid can in
    * principle SPLIT a pair the aligned grid catches (two already-aligned
    * recordings whose onsets differ — e.g. one starts just under the
    * silence floor); the recall dashboard reports both against their own
    * exact scans. */
  def audioDupPairsAnchored(s: SparkSession, dir: String,
      maxId: Option[Long] = None,
      maxCandidatesPerDoc: Option[Int] = None): DataFrame =
    dupPairsOverSig(
      sigFrameAnchored(s, dir, maxId).drop("onset"), maxCandidatesPerDoc)

  /** Shared pair-join body over any audio signature frame
    * (asset_id, g, lv, k) — aligned and anchored differ only in how the
    * grid's origin was chosen. */
  private def dupPairsOverSig(sig: DataFrame,
      maxCandidatesPerDoc: Option[Int]): DataFrame = {
    // the signature frame feeds the probe side AND both verify joins —
    // uncached, each reference re-decodes the corpus through javax.sound
    // (3× the decode cost, measured ~2.3 s at sf0.1): cache + eager
    // count = decode once. Not released here — the returned plan stays
    // lazy (pushdown-inspectable); the session reclaims the cache at the
    // next query's clearCache.
    val base = sig.cache()
    base.count()
    val probes = base.select(col("asset_id").as("id_a"), col("k").as("ka"),
      explode(expr(Multimodal.MmProbeExpr)).as("pk"))
    val cands0 = probes
      .join(base.select(col("asset_id").as("id_b"), col("k").as("pk")), "pk")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), (col("pk") === col("ka")).as("__exact"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("__exact")).as("__exact"))
    // same survivor rank as the image family: exact-key matches first
    // (strictly closer neighborhood than a ±1 probe hit), then id_b
    val cands = (maxCandidatesPerDoc match {
      case None => cands0
      case Some(c) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id_a"))
          .orderBy(col("__exact").desc, col("id_b"))
        cands0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= c).drop("__rn")
    }).drop("__exact")
    cands
      .join(base.select(col("asset_id").as("id_a"), col("g").as("ga")), "id_a")
      .join(base.select(col("asset_id").as("id_b"), col("g").as("gb")), "id_b")
      .withColumn("l1", expr(AudioL1))
      .filter(col("l1") <= AudioL1Eps)
      .select(col("id_a"), col("id_b"), col("l1"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Pricing scout for the audio pair family (`mm_audio_bound`) — the
    * audio twin of [[Multimodal.mmDupBound]], closing the same
    * one-round scout lag phash had (r15 verdict #3: `mm_audio_pairs`
    * emitted 3,423,586 pairs at ×30, ratio 36.6 — replica duplication
    * SQUARES the identical-signature groups — with the budget knob but
    * no price tag). Shares [[Multimodal.sigDupBound]]'s aggregate-only
    * body over the audio (asset_id, lv, k) frame: exact-key
    * Σ c·(c−1)/2 + the ±1-one-bin probe-vs-histogram candidate bound,
    * no pair ever materializes. When `verify_bound` says the corpus is
    * duplicate-squared, run [[audioDupPairs]] with
    * `maxCandidatesPerDoc`. */
  def audioDupBound(s: SparkSession, dir: String): DataFrame =
    Multimodal.sigDupBound(sigFrame(s, dir))

  /** Exact integer-L1 near-dup scan over a bounded domain — the ground
    * truth for `mm_audio_recall` (constant-size domain: the all-pairs
    * cost never scales with the corpus). */
  def audioDupPairsExact(s: SparkSession, dir: String,
      maxId: Long = 300L): DataFrame =
    dupPairsExactOverSig(sigFrame(s, dir, Some(maxId)))

  /** Exact anchored-L1 scan over the bounded domain — the anchored
    * family's own ground truth for the recall dashboard. */
  def audioDupPairsAnchoredExact(s: SparkSession, dir: String,
      maxId: Long = 300L): DataFrame =
    dupPairsExactOverSig(sigFrameAnchored(s, dir, Some(maxId)).drop("onset"))

  private def dupPairsExactOverSig(base: DataFrame): DataFrame =
    base.select(col("asset_id").as("id_a"), col("g").as("ga"))
      .join(base.select(col("asset_id").as("id_b"), col("g").as("gb")),
        col("id_a") < col("id_b"))
      .withColumn("l1", expr(AudioL1))
      .filter(col("l1") <= AudioL1Eps)
      .select(col("id_a"), col("id_b"), col("l1"))
      .orderBy(col("id_a"), col("id_b"))

  /** Incremental audio intake (`mm_audio_intake`): arriving (delta)
    * assets checked against the standing corpus through the key-probe
    * gate, verified by the exact L1 threshold; per-delta near count +
    * near/novel verdict. Bipartite (delta probes × standing keys — no
    * standing × standing leg), the same shape as the image intake. */
  def audioDupIntake(s: SparkSession, dir: String): DataFrame = {
    val (inc, ex) = Multimodal.mmDeltaSplit(synthesizeWavAssets(s, dir))
    audioIntakeVerdicts(audioSigOf(inc), audioSigOf(ex))
  }

  /** [[audioDupIntake]] probing the PERSISTED audio-signature index
    * ([[graft.sources.IndexStore.standingAudioSigIndex]]) instead of
    * re-decoding the standing corpus — O(delta) including the standing
    * side (standing payloads never re-read; spec-asserted via
    * `inputFiles`). Pure function of the bytes ⇒ byte-identical to the
    * recompute form, SHARES its oracle. */
  def audioDupIntakeIndexed(s: SparkSession, dir: String): DataFrame = {
    val (inc, _) = Multimodal.mmDeltaSplit(synthesizeWavAssets(s, dir))
    audioIntakeVerdicts(audioSigOf(inc),
      graft.sources.IndexStore.standingAudioSigIndex(s, dir))
  }

  /** Triage an arbitrary asset batch against a standing audio-signature
    * frame — the per-batch body of the streaming sink
    * ([[graft.streaming.StreamingOps.audioIntakeBatch]]) and the front
    * door's audio gate. MATERIALIZED before return (a subsequent index
    * append cannot change what a caller's write sees). */
  def triageAssetsAgainstAudioSig(batch: Dataset[Asset],
      standingSig: DataFrame): DataFrame =
    audioIntakeVerdicts(audioSigOf(batch), standingSig)

  /** Shared triage dataflow over delta + standing signature frames
    * (asset_id, g, lv, k) — however the standing side was obtained. */
  private def audioIntakeVerdicts(incSig: DataFrame,
      exSig: DataFrame): DataFrame = {
    val inc = incSig.cache(); inc.count()
    val ex = exSig.cache(); ex.count()
    val probes = inc.select(col("asset_id").as("inc_id"),
      explode(expr(Multimodal.MmProbeExpr)).as("pk"))
    val cands = probes
      .join(ex.select(col("asset_id").as("ex_id"), col("k").as("pk")), "pk")
      .select(col("inc_id"), col("ex_id")).distinct()
    val near = cands
      .join(inc.select(col("asset_id").as("inc_id"), col("g").as("ga")),
        "inc_id")
      .join(ex.select(col("asset_id").as("ex_id"), col("g").as("gb")),
        "ex_id")
      .withColumn("l1", expr(AudioL1))
      .filter(col("l1") <= AudioL1Eps)
      .groupBy(col("inc_id")).agg(count(lit(1)).as("n_near"))
      .withColumnRenamed("inc_id", "asset_id")
    val out = inc.select(col("asset_id"))
      .join(near, Seq("asset_id"), "left")
      .withColumn("n_near", coalesce(col("n_near"), lit(0L)))
      .withColumn("verdict",
        when(col("n_near") > 0, lit("near")).otherwise(lit("novel")))
      .orderBy(col("asset_id"))
    Caching.materializeAndRelease(out, inc, ex)
  }
}
