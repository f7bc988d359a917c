package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** An opaque multimodal asset: binary payload + typed metadata. */
final case class Asset(asset_id: Long, mime: String, n_bytes: Long,
    content: Array[Byte])

/** Extracted features for an asset (decode STUBBED — see Multimodal). */
final case class AssetFeatures(asset_id: Long, n_bytes: Long,
    features: Array[Float])

/** Multimodal columns: image/audio/video as opaque `binary` with typed
  * metadata, plus decode / feature-extract / frame-sample plumbing.
  *
  * The decode step dispatches on mime: `image/…` mimes go through a
  * REAL codec — JDK ImageIO, which ships PNG/JPEG/BMP/GIF readers with
  * the JRE, no external jars — `audio/…` mimes through the REAL
  * javax.sound.sampled WAV/PCM reader (also JRE-shipped), `video/…`
  * mimes through the REAL [[Mp4]] demuxer — tracks coded with the
  * lossless `png ` codec (the one video codec the JDK ships a decoder
  * for) get FULL frame decode to pixel statistics via
  * [[Mp4.parseFrames]]; other codecs (H.264 …, which the JDK genuinely
  * doesn't ship) degrade to header-level container metadata — and
  * everything else falls back to the clearly-labeled STUB
  * (the harness's synthetic payloads are `application/octet-stream`
  * text bytes). The Spark-side
  * contract is identical on both branches — schema (binary + metadata),
  * partition-batched iteration via mapPartitions (the Scala analog of
  * mapInPandas batches: one decoder init per partition, not per row), and
  * the 16-float output feature shape.
  *
  * Scale notes: content bytes never shuffle — features are extracted in a
  * narrow pass and only the (id, features) projection flows downstream.
  * Partition sizing is controlled upstream via files.maxPartitionBytes so a
  * batch of payloads fits executor memory.
  */
object Multimodal {

  /** Synthesize binary assets from the documents table (deterministic:
    * payload = utf-8 bytes of text). Stands in for reading a real
    * binary-file source (`spark.read.format("binaryFile")`). */
  def synthesizeAssets(s: SparkSession, dir: String): Dataset[Asset] =
    assetsOf(Tables.documents(s, dir))

  /** The asset view of an arbitrary document frame — the per-batch form
    * [[graft.ops.Corpus.frontDoorVerdicts]]' multimodal gate runs on a
    * delta batch (same synthesis rule as [[synthesizeAssets]]). */
  def assetsOf(docs: DataFrame): Dataset[Asset] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id").as("asset_id"),
        lit("application/octet-stream").as("mime"),
        col("n_chars").as("n_bytes"),
        col("text").cast("binary").as("content"))
      .as[Asset]
  }

  /** STUB decode: a real implementation calls the codec here. The fake is
    * deterministic — a 16-bin byte histogram normalized by length — so the
    * plumbing (batching, shape, determinism) is testable. */
  def decodeStub(content: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < content.length) {
      hist((content(i) & 0xff) >> 4) += 1f
      i += 1
    }
    if (content.length > 0) {
      var j = 0
      while (j < 16) { hist(j) /= content.length; j += 1 }
    }
    hist
  }

  /** REAL image decode via JDK ImageIO: 16-float feature vector
    * [width, height, meanR, meanG, meanB, meanLuminance,
    *  10-bin luminance histogram (fractions)]. Same vector width as the
    * stub so both branches share the AssetFeatures schema. Returns None
    * when the bytes aren't a decodable image — ImageIO.read yields null
    * for unclaimed formats but THROWS (IOException, and some plugin
    * readers RuntimeExceptions) on truncated bytes a reader claims, so
    * both failure shapes must degrade to the stub instead of failing a
    * 100 TB job on one bad file. */
  def decodeImage(content: Array[Byte]): Option[Array[Float]] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      val out = new Array[Float](16)
      out(0) = w.toFloat
      out(1) = h.toFloat
      var (sr, sg, sb, sl) = (0.0, 0.0, 0.0, 0.0)
      val hist = new Array[Long](10)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff
          val g = (rgb >> 8) & 0xff
          val b = rgb & 0xff
          val lum = 0.299 * r + 0.587 * g + 0.114 * b
          sr += r; sg += g; sb += b; sl += lum
          hist(math.min(9, (lum / 25.6).toInt)) += 1
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h).toDouble
      out(2) = (sr / n).toFloat
      out(3) = (sg / n).toFloat
      out(4) = (sb / n).toFloat
      out(5) = (sl / n).toFloat
      var j = 0
      while (j < 10) { out(6 + j) = (hist(j) / n).toFloat; j += 1 }
      Some(out)
    }
  }

  /** REAL audio decode via JDK javax.sound.sampled (WAV/PCM ships with
    * the JRE — no external codec jars): 16-float feature vector
    * [sampleRate, channels, bitsPerSample, nFrames, durationSec,
    *  rms, peak, meanAbs, zeroCrossFraction,
    *  7-bin |amplitude| histogram (fractions)]. Amplitudes are
    * normalized to [-1, 1]; multi-channel frames average to mono before
    * feature math (the standard mixdown). Returns None for bytes the
    * JDK can't parse as RIFF/WAVE, non-PCM encodings, or truncated
    * payloads — degrading to the stub instead of failing a 100 TB job
    * on one bad file (same contract as [[decodeImage]]). */
  def decodeAudio(content: Array[Byte]): Option[Array[Float]] = {
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
      if ((!signed && !unsigned) || (bits != 8 && bits != 16) || ch < 1)
        return None
      val raw = ais.readAllBytes()
      val bytesPerSample = bits / 8
      val frameBytes = bytesPerSample * ch
      val nFrames = raw.length / frameBytes
      if (nFrames == 0) return None

      val big = fmt.isBigEndian
      val full = (1 << (bits - 1)).toDouble // 128 or 32768
      def sample(off: Int): Double = {
        val v =
          if (bits == 8)
            if (signed) raw(off).toInt else (raw(off) & 0xff) - 128
          else {
            val (lo, hi) = if (big) (off + 1, off) else (off, off + 1)
            val s = ((raw(hi).toInt << 8) | (raw(lo) & 0xff)).toShort.toInt
            if (signed) s else ((raw(hi) & 0xff) << 8 | (raw(lo) & 0xff)) - 32768
          }
        v / full
      }

      var (sumSq, sumAbs, peak) = (0.0, 0.0, 0.0)
      var crossings = 0L
      var prevNonNeg = true
      val hist = new Array[Long](7)
      var f = 0
      while (f < nFrames) {
        var c = 0
        var acc = 0.0
        while (c < ch) { acc += sample(f * frameBytes + c * bytesPerSample); c += 1 }
        val a = acc / ch
        val abs = math.abs(a)
        sumSq += a * a; sumAbs += abs
        if (abs > peak) peak = abs
        val nonNeg = a >= 0.0
        if (f > 0 && nonNeg != prevNonNeg) crossings += 1
        prevNonNeg = nonNeg
        hist(math.min(6, (abs * 7).toInt)) += 1
        f += 1
      }
      val out = new Array[Float](16)
      out(0) = fmt.getSampleRate
      out(1) = ch.toFloat
      out(2) = bits.toFloat
      out(3) = nFrames.toFloat
      out(4) = (nFrames / fmt.getSampleRate.toDouble).toFloat
      out(5) = math.sqrt(sumSq / nFrames).toFloat
      out(6) = peak.toFloat
      out(7) = (sumAbs / nFrames).toFloat
      out(8) = (crossings.toDouble / nFrames).toFloat
      var j = 0
      while (j < 7) { out(9 + j) = (hist(j).toDouble / nFrames).toFloat; j += 1 }
      Some(out)
    } catch { case scala.util.control.NonFatal(_) => None }
    finally ais.close()
  }

  /** REAL video container metadata via [[Mp4]]'s ISO BMFF box parser
    * (header-level: resolution, duration, structure — pure-JDK byte
    * walking). The fallback tier for tracks whose CODEC the JDK lacks
    * (H.264 …); `png `-coded tracks take [[decodeVideoFrames]] instead.
    * Same 16-float shape as the other branches. */
  def decodeVideoMeta(assetId: Long, content: Array[Byte]): Option[Array[Float]] =
    Mp4.parse(assetId, content).map { m =>
      val out = new Array[Float](16)
      out(0) = m.width.toFloat
      out(1) = m.height.toFloat
      out(2) = m.duration_ms.toFloat / 1000f
      out(3) = m.timescale.toFloat
      out(4) = m.n_top_boxes.toFloat
      out(5) = m.mdat_bytes.toFloat
      out
    }

  /** REAL video frame decode for `png `-coded tracks: [[Mp4.parseFrames]]
    * demuxes the sample ranges and ImageIO-decodes every frame; the
    * pixel statistics land in the shared 16-float shape. None when the
    * track's codec isn't the JDK-decodable lossless one — the dispatch
    * then falls back to container metadata, keeping the tiers honest:
    * pixels where a decoder exists, headers where only the demuxer does. */
  def decodeVideoFrames(assetId: Long, content: Array[Byte]): Option[Array[Float]] =
    Mp4.parseFrames(assetId, content).map { f =>
      val out = new Array[Float](16)
      out(0) = f.frame_width.toFloat
      out(1) = f.frame_height.toFloat
      out(2) = f.n_frames.toFloat
      out(3) = f.luma_mean_ppm.toFloat / 1000000f
      out(4) = f.luma_sum.toFloat
      out(5) = f.max_frame_sum.toFloat
      out
    }

  /** Feature extraction: one decoder "session" per partition, batch loop
    * inside — the mapPartitions shape a native decoder needs. Dispatch:
    * image mimes take the real ImageIO path, audio mimes the real
    * javax.sound WAV/PCM path, video mimes the real [[Mp4]] demuxer —
    * full frame decode when the track's codec is the JDK-decodable
    * lossless `png `, header-level container metadata otherwise;
    * anything undecodable degrades to the deterministic stub. */
  def extractFeatures(assets: Dataset[Asset]): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // decoder init would happen here, once per partition
      it.map { a =>
        val feats =
          if (a.mime.startsWith("image/"))
            decodeImage(a.content).getOrElse(decodeStub(a.content))
          else if (a.mime.startsWith("audio/"))
            decodeAudio(a.content).getOrElse(decodeStub(a.content))
          else if (a.mime.startsWith("video/"))
            decodeVideoFrames(a.asset_id, a.content)
              .orElse(decodeVideoMeta(a.asset_id, a.content))
              .getOrElse(decodeStub(a.content))
          else decodeStub(a.content)
        AssetFeatures(a.asset_id, a.n_bytes, feats)
      }
    }
  }

  /** Frame sampling: keep every `stride`-th fixed-size chunk of the payload
    * (video-frame-sampling plumbing on opaque bytes). */
  def frameSample(assets: Dataset[Asset], chunkBytes: Int = 64,
      stride: Int = 4): Dataset[Asset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val out = a.content.grouped(chunkBytes).zipWithIndex
          .collect { case (chunk, i) if i % stride == 0 => chunk }
          .flatten.toArray
        a.copy(content = out, n_bytes = out.length.toLong)
      }
    }
  }

  /** Multimodal → similarity integration: nearest assets by cosine over
    * the (stub-)decoded features, reusing the engine's ANN machinery
    * (vec_dot + broadcast query side). Binary payloads never shuffle —
    * only the 16-dim feature vectors flow into the search. */
  def assetAnn(s: SparkSession, dir: String, k: Int = 3,
      numQueries: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VecDot.register(s)
    val feats = extractFeatures(synthesizeAssets(s, dir)).toDF()
      .withColumn("e", expr("cast(features AS ARRAY<DOUBLE>)"))
      .withColumn("nrm", expr("vec_dot(e, e)"))
      .filter(col("nrm") > 0)
      .select(col("asset_id"), col("e"), col("nrm"))
    val q = feats.filter(col("asset_id") < numQueries)
      .select(col("asset_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
    val c = feats.select(col("asset_id").as("c_id"), col("e").as("ce"),
      col("nrm").as("cn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .withColumn("sim", round(
        expr("vec_dot(qe, ce)") / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Query surface: per-asset feature summary. Fully hash-oracled: the
    * stub histogram is a deterministic function of the (ASCII) payload
    * bytes that DuckDB replays in single-precision — so the decode
    * PLUMBING (mapPartitions batching, Float math, fold order, argmax
    * tie-break) is bit-pinned even though the real-codec branch is
    * environment-bound. */
  def featuresQuery(s: SparkSession, dir: String): DataFrame =
    extractFeatures(synthesizeAssets(s, dir)).toDF()
      .select(col("asset_id"), col("n_bytes"),
        round(expr("aggregate(features, cast(0 AS DOUBLE), (acc, x) -> acc + x)"), 4)
          .as("feature_sum"),
        expr("array_position(features, array_max(features))").as("argmax_bin"))
      .orderBy(col("asset_id"))

  /** Perceptual-hash constants. 8-bit levels (floor(f·256), capped 255 —
    * ×256 is a power-of-two scale, so the product is exact in IEEE and
    * floor is engine-portable) keep each bin discriminative: at 4 bits
    * the level quantum (1/32) swallows the between-asset variance of a
    * typical feature bin and most of the corpus shares one key. The L1
    * threshold sits between the measured nearest-neighbor distance
    * (median ≈ 0.003 at sf0.01) and the random-pair 5th percentile
    * (≈ 0.011) — near-dups pass, unrelated assets don't. */
  val PhashQuant = 256
  val MmDupL1Eps = 0.005

  /** asset → decoded-feature frame (asset_id, f, lv, k) with quantized
    * levels and the packed perceptual key. The key is the 16 levels
    * zero-padded to 3 decimal digits and concatenated (a 48-char string):
    * string packing sidesteps the signed-64-bit shift semantics a 128-bit
    * numeric pack would drag across the engine boundary, and hash-joins
    * on it just as well. This is the unit the in-query operators compute
    * and the persisted phash index stores ([[graft.sources.IndexStore
    * .writePhash]]) — nothing is fitted, so every index write and the
    * in-query recompute produce the same signature for an asset. */
  private[graft] def phashOf(assets: Dataset[Asset]): DataFrame =
    extractFeatures(assets).toDF()
      .withColumn("f", expr("cast(features AS ARRAY<DOUBLE>)"))
      .withColumn("lv", expr(
        s"transform(f, x -> least(${PhashQuant - 1}, cast(floor(x * $PhashQuant) AS INT)))"))
      .withColumn("k", expr(
        "array_join(transform(lv, l -> lpad(cast(l AS string), 3, '0')), '')"))
      .select(col("asset_id"), col("f"), col("lv"), col("k"))

  private def phashFrame(s: SparkSession, dir: String): DataFrame =
    phashOf(synthesizeAssets(s, dir))

  /** Probe-key explosion over (lv, k): the exact key plus every in-range
    * one-bin ±1-level variant, built by splicing the 3-digit field in
    * place (48-char key, bin b at chars 3b+1..3b+3) — the candidate
    * neighborhood both the pair join and the intake probe materialize on
    * their probing side. */
  private[graft] val MmProbeExpr =
    """concat(array(k), flatten(transform(sequence(0, 15), b ->
      |  transform(
      |    filter(array(element_at(lv, b + 1) - 1, element_at(lv, b + 1) + 1),
      |      v -> v >= 0 AND v <= 255),
      |    v -> concat(substring(k, 1, b * 3),
      |      lpad(cast(v AS string), 3, '0'),
      |      substr(k, b * 3 + 4))))))""".stripMargin

  /** Per-asset perceptual hash (`mm_phash`): the dedup signature as a
    * first-class query, fully oracled (the stub decode is
    * SQL-expressible, so the whole signature replays in DuckDB). */
  def phashSignatures(s: SparkSession, dir: String): DataFrame =
    phashFrame(s, dir)
      .select(col("asset_id"), col("k").as("phash"))
      .orderBy(col("asset_id"))

  /** Multimodal near-duplicate pairs (`mm_dup_pairs`): perceptual-hash
    * candidates + exact L1 verify — image-dedup shaped (pHash bucketing,
    * then a distance check), expressed over the deterministic decode so
    * the whole pipeline hash-checks.
    *
    * Candidate rule: two assets collide when their quantized signatures
    * are EQUAL or differ in exactly one bin by exactly one level. The
    * probe side materializes that neighborhood explicitly (the exact key
    * + ≤32 one-bin-off variants per asset — asymmetric, like the wide
    * multiprobe: probes on one side cover the symmetric relation), so
    * candidates come from a plain equi-join on the key — a hash
    * shuffle-join on 48-char strings, never a cross-bucket scan. This is
    * what keeps it scale-safe where a banded OR-join over 16 bins would
    * degenerate: feature bins that carry no variance for a given corpus
    * (most of the 16, for ASCII payloads) would make each of their bands
    * an all-collide bucket, and ANY all-collide band floors the scan at
    * N² — the same collision-floor failure the 4-bit embedding geometry
    * measured at ×30. Full-key equality cannot degenerate that way: a
    * zero-variance bin just contributes nothing to the key.
    *
    * Verify: exact L1 over the float histograms ≤ [[MmDupL1Eps]] — every
    * emitted pair carries the true distance, so precision against the
    * same-threshold exact scan is 1.0 by construction (dashboarded in
    * `mm_dup_recall`; measured recall 0.81 at sf0.01, the honest price
    * of the ±1-level probe window). `maxId` is the same quadratic-
    * bounding domain knob as the embedding family's: the recall report
    * restricts BOTH sides to a constant-size domain, so replica-scale
    * sweeps compare pair-for-pair. */
  def mmDupPairs(s: SparkSession, dir: String,
      maxId: Option[Long] = None,
      maxCandidatesPerDoc: Option[Int] = None): DataFrame = {
    // domain restriction BEFORE decode: extractFeatures is mapPartitions,
    // so a post-decode filter cannot reach the documents scan — the whole
    // corpus would be decoded for a bounded-domain report (the same
    // localCheckpoint-wall lesson as emb_dup_recall's r10 fix, one stage
    // earlier)
    val assets = maxId.foldLeft(synthesizeAssets(s, dir))(
      (ds, m) => ds.filter(col("asset_id") < m))
    // the signature frame feeds the probe side AND both verify joins —
    // uncached, each reference re-runs the decode pass (r15, with the
    // audio twin: cache + eager count = decode once). The cache is NOT
    // released here: the returned plan must stay lazy/inspectable (the
    // maxId pushdown spec reads it), and the session reclaims it at the
    // next query's clearCache.
    val base = phashOf(assets).cache()
    base.count()
    val probes = base.select(col("asset_id").as("id_a"), col("k").as("ka"),
      explode(expr(MmProbeExpr)).as("pk"))
    // __exact marks candidates found through the EXACT key (vs a ±1-bin
    // probe); the pair-dedup groupBy keeps the strongest evidence. Costs
    // one string compare per collision — the flag exists so a binding
    // budget can prefer the closer candidates (below) instead of evicting
    // true near-dups in favor of probe-only collisions that happen to
    // sort earlier by id (r12 ADVICE).
    val cands0 = probes
      .join(base.select(col("asset_id").as("id_b"), col("k").as("pk")), "pk")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), (col("pk") === col("ka")).as("__exact"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("__exact")).as("__exact"))
    // the pair family's standard candidate budget (see prefixJoinPairsOf /
    // winnowPairs / bandVerifiedPairs): ids-only rows ranked per id_a, the
    // first c partners survive — verify work and output bound to O(c·n);
    // None (default) keeps the oracled exact-probe semantics unchanged.
    // Survivor rank: exact-key matches (identical quantized signature — a
    // strictly closer neighborhood than a ±1-bin probe hit) first, then
    // id_b for determinism. Identical-payload groups make candidates
    // quadratic in group size, so a duplicate-dense corpus prices this
    // knob exactly like the text family's digest-histogram scouts price
    // theirs.
    val cands = (maxCandidatesPerDoc match {
      case None => cands0
      case Some(c) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id_a"))
          .orderBy(col("__exact").desc, col("id_b"))
        cands0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= c).drop("__rn")
    }).drop("__exact")
    val l1 = "aggregate(zip_with(fa, fb, (x, y) -> abs(x - y)), " +
      "cast(0 AS DOUBLE), (acc, x) -> acc + x)"
    cands
      .join(base.select(col("asset_id").as("id_a"), col("f").as("fa")), "id_a")
      .join(base.select(col("asset_id").as("id_b"), col("f").as("fb")), "id_b")
      .withColumn("l1", expr(l1))
      .filter(col("l1") <= MmDupL1Eps)
      .select(col("id_a"), col("id_b"), round(col("l1"), 6).as("l1"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Pricing scout for the perceptual-hash pair family (`mm_dup_bound`) —
    * the image twin of the text family's `dedup_lexical_bound` /
    * [[Dedup.candidatePairBound]] discipline (r14 verdict: mm_dup_pairs
    * became the third over-budget ×30 emitter at 23.7M pairs with a
    * budget knob but NO scout). Prices the candidate join BEFORE it
    * runs, from aggregates only:
    *
    *   - `exact_pair_bound` = Σ c·(c−1)/2 over exact phash-key groups —
    *     replica duplication SQUARES these groups, which is precisely
    *     the ×30 blowup mechanism (BENCH.md, Round 15 close);
    *   - `probe_candidate_bound` = Σ over each asset's ±1-one-bin probe
    *     variants of the matched key's group size (ordered candidates —
    *     an upper bound on 2× the unordered probe pairs);
    *   - `verify_bound` = their sum, the L1-verify workload ceiling.
    *
    * Cost shape: one groupBy(k) histogram + one probe-vs-histogram join
    * that AGGREGATES instead of materializing pairs — no pair shuffle,
    * no verify, no per-pair dedup; the expensive output never exists.
    * When verify_bound says the corpus is duplicate-squared, run
    * [[mmDupPairs]] with `maxCandidatesPerDoc` (the measured knob). */
  def mmDupBound(s: SparkSession, dir: String): DataFrame =
    sigDupBound(phashFrame(s, dir))

  /** The scout's signature-GENERIC body (r15 verdict #7: the next
    * modality family must ship scout-included, not one round late):
    * prices the exact-or-±1-one-bin candidate join of ANY family built
    * on the shared (asset_id, lv, k) signature scheme — image phash
    * ([[mmDupBound]]) and the audio fingerprint
    * ([[AudioDedup.audioDupBound]]) today; a new modality gets its scout
    * by handing this its signature frame. Aggregates only: one
    * groupBy(k) histogram + one probe-vs-histogram join — the pair set
    * never materializes, which is the property that keeps the scout
    * FLAT while the join it prices grows quadratically under replica
    * duplication (measured: mm_dup_bound ratio 1.67 at ×30 pricing a
    * 37×-grown join). */
  private[graft] def sigDupBound(sig: DataFrame): DataFrame = {
    val base = sig.cache(); base.count()
    val counts = base.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .cache()
    counts.count()
    val exact = counts.agg(
      count(lit(1)).as("n_keys"),
      coalesce(max(col("c")), lit(0L)).cast("bigint").as("max_key_group"),
      coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).cast("bigint")
        .as("exact_pair_bound"))
    val probeBound = base
      .select(col("asset_id"), col("k").as("ka"),
        explode(expr(MmProbeExpr)).as("pk"))
      .filter(col("pk") =!= col("ka"))
      .join(counts.withColumnRenamed("k", "pk"), "pk")
      .agg(coalesce(sum(col("c")), lit(0L)).cast("bigint")
        .as("probe_candidate_bound"))
    val out = base.agg(count(lit(1)).cast("bigint").as("n_assets"))
      .crossJoin(exact).crossJoin(probeBound)
      .withColumn("verify_bound",
        (col("exact_pair_bound") + col("probe_candidate_bound"))
          .cast("bigint"))
    Caching.materializeAndRelease(out, base, counts)
  }

  /** Exact L1 near-dup scan over a bounded domain — the ground truth for
    * `mm_dup_recall` (same quadratic-bounding contract as
    * [[Similarity.cosineDupPairs]]: constant-size domain, so the exact
    * all-pairs cost never scales with the corpus). */
  def mmDupPairsExact(s: SparkSession, dir: String,
      maxId: Long = 300L): DataFrame = {
    // filter before decode — see mmDupPairs
    val base = phashOf(
      synthesizeAssets(s, dir).filter(col("asset_id") < maxId))
    val a = base.select(col("asset_id").as("id_a"), col("f").as("fa"))
    val b = base.select(col("asset_id").as("id_b"), col("f").as("fb"))
    val l1 = "aggregate(zip_with(fa, fb, (x, y) -> abs(x - y)), " +
      "cast(0 AS DOUBLE), (acc, x) -> acc + x)"
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("l1", expr(l1))
      .filter(col("l1") <= MmDupL1Eps)
      .select(col("id_a"), col("id_b"), round(col("l1"), 6).as("l1"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Residue-class delta split over assets — the multimodal twin of
    * [[Similarity.embDeltaSplit]] / [[Dedup.deltaSplit]]: engine-portable
    * 48-bit hash of the id, residue 9 of 10 arrives, the rest stands.
    * Splitting the raw ASSETS (before decode) is what makes the indexed
    * intake honestly O(delta): only delta payloads are decoded per probe;
    * the standing side's signatures come from the persisted index. */
  private[graft] def mmDeltaSplit(
      assets: Dataset[Asset]): (Dataset[Asset], Dataset[Asset]) = {
    val h = graft.functions.SharedHash.spark48("cast(asset_id AS string)")
    (assets.filter(expr(s"pmod($h, 10) = 9")),
      assets.filter(expr(s"pmod($h, 10) <> 9")))
  }

  /** Incremental multimodal near-dup intake (`mm_dup_intake`) — the
    * decoded-asset twin of [[Similarity.cosineDupIntake]]'s vector triage
    * and [[Dedup.incrementalDedup]]'s text triage: arriving (delta)
    * assets are checked against the standing corpus through the
    * perceptual-hash probe gate ([[mmDupPairs]]' exact-or-±1-one-bin
    * neighborhood, materialized on the DELTA side only), verified by the
    * exact L1 threshold, and each delta asset reports its standing
    * near-dup count (`n_near`) plus a `near`/`novel` verdict.
    *
    * Scale shape: the join is BIPARTITE (delta probes × standing exact
    * keys — no standing × standing leg), so cost is
    * O(|delta| · collisions-per-key); full-key equality cannot
    * collision-floor (a zero-variance bin contributes nothing to the
    * key — see [[mmDupPairs]]). The whole chain — split, stub decode,
    * quantize, probe, L1 verify, verdict — is deterministic and carries a
    * full hash oracle. */
  def mmDupIntake(s: SparkSession, dir: String): DataFrame = {
    val (inc, ex) = mmDeltaSplit(synthesizeAssets(s, dir))
    mmIntakeVerdicts(phashOf(inc), phashOf(ex))
  }

  /** [[mmDupIntake]] probing the PERSISTED phash index
    * ([[graft.sources.IndexStore.standingPhashIndex]]) instead of
    * re-decoding the standing corpus: per-batch work is O(delta)
    * INCLUDING the standing side — standing payloads are never re-read
    * (spec-asserted via `inputFiles`). The signature is a pure function
    * of the bytes (nothing fitted), so the output is byte-identical to
    * the recompute form and SHARES its oracle. */
  def mmDupIntakeIndexed(s: SparkSession, dir: String): DataFrame = {
    val (inc, _) = mmDeltaSplit(synthesizeAssets(s, dir))
    mmIntakeVerdicts(phashOf(inc),
      graft.sources.IndexStore.standingPhashIndex(s, dir))
  }

  /** Triage an arbitrary asset batch against a standing phash-signature
    * frame — the per-batch body of the streaming intake sink
    * ([[graft.streaming.StreamingOps.phashIntakeBatch]]). The result is
    * MATERIALIZED (localCheckpoint) before return, so a subsequent index
    * append cannot change what a caller's write sees. */
  def triageAssetsAgainstPhash(batch: Dataset[Asset],
      standingSig: DataFrame): DataFrame =
    mmIntakeVerdicts(phashOf(batch), standingSig)

  /** Shared triage dataflow over delta and standing signature frames —
    * however the standing side was obtained (computed in-query or read
    * from the persisted index). Both frames carry (asset_id, f, lv, k). */
  private def mmIntakeVerdicts(incSig: DataFrame,
      exSig: DataFrame): DataFrame = {
    val inc = incSig.cache(); inc.count()
    val ex = exSig.cache(); ex.count()
    val probes = inc.select(col("asset_id").as("inc_id"),
      explode(expr(MmProbeExpr)).as("pk"))
    val cands = probes
      .join(ex.select(col("asset_id").as("ex_id"), col("k").as("pk")), "pk")
      .select(col("inc_id"), col("ex_id")).distinct()
    val l1 = "aggregate(zip_with(fa, fb, (x, y) -> abs(x - y)), " +
      "cast(0 AS DOUBLE), (acc, x) -> acc + x)"
    val near = cands
      .join(inc.select(col("asset_id").as("inc_id"), col("f").as("fa")),
        "inc_id")
      .join(ex.select(col("asset_id").as("ex_id"), col("f").as("fb")),
        "ex_id")
      .withColumn("l1", expr(l1))
      .filter(col("l1") <= MmDupL1Eps)
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
