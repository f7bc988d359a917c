package graft.ops

import graft.SparkSpec
import graft.sources.IndexStore.WriteMode.Append
import org.apache.spark.sql.functions._

/** Round-6 close-out additions: prefix-filtered exact similarity join,
  * Matryoshka truncated-dim rerank, multi-source BFS, Markov transitions,
  * incremental aggregate-view maintenance. */
class Round6ExtrasSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // --- prefix-filtered exact all-pairs jaccard -----------------------------

  /** 5 families of 8 near-identical docs: pairs exist only within a
    * family, with varying overlap from the per-doc noise suffix. */
  private def craftedDocs = (0 until 40).map { i =>
    val base = (0 until 12).map(t => s"tok${i / 8}_$t").mkString(" ")
    val noise = (0 until i % 4).map(j => s"extra${i % 8}_$j").mkString(" ")
    (i.toLong, (base + " " + noise).trim)
  }.toDF("doc_id", "text")

  test("prefix join: reproduces brute-force all-pairs exactly at every threshold") {
    val docs = craftedDocs.cache()
    val sets = Dedup.shingled(docs)
      .select(col("doc_id"), array_distinct(col("hs")).as("hs"))
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.prefixJoinPairsOf(docs, t)
        .as[(Long, Long, Double)].collect().toSet
      val brute = sets.toDF("doc_a", "hs_a")
        .join(sets.toDF("doc_b", "hs_b"), col("doc_a") < col("doc_b"))
        .withColumn("inter",
          size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
        .withColumn("jraw", col("inter") /
          (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
        .filter(col("jraw") >= t)
        .select(col("doc_a"), col("doc_b"), round(col("jraw"), 4))
        .as[(Long, Long, Double)].collect().toSet
      assert(got == brute, s"threshold $t")
      assert(got.nonEmpty, s"threshold $t found nothing — test corpus broken")
    }
    docs.unpersist()
  }

  test("prefix join: candidate budget yields a deterministic subset of the " +
      "exact output, bounded per doc, invariant under repartitioning") {
    val docs = craftedDocs.cache()
    val exact = Dedup.prefixJoinPairsOf(docs, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val cap = 3
    val capped = Dedup.prefixJoinPairsOf(docs, 0.3, Some(cap))
      .as[(Long, Long, Double)].collect()
    assert(capped.toSet.subsetOf(exact),
      "every capped pair is a true pair of the exact output")
    assert(capped.groupBy(_._1).values.forall(_.length <= cap),
      "per-doc output cannot exceed the candidate budget")
    assert(capped.nonEmpty && capped.length < exact.size,
      "fixture dense enough that the budget actually bites")
    // deterministic: the (doc_a, doc_b) rank order is unique, so a
    // different physical partitioning replays the same subset
    val again = Dedup.prefixJoinPairsOf(docs.repartition(7), 0.3, Some(cap))
      .as[(Long, Long, Double)].collect()
    assert(again.sorted.toSeq === capped.sorted.toSeq)
    // the pre-join cost scout upper-bounds the true pair count
    assert(Dedup.candidatePairBound(docs, 0.3) >= exact.size,
      "candidate bound must dominate the verified pair count")
    docs.unpersist()
  }

  test("dup-group histogram: the pre-join scout counts exact-digest group " +
      "sizes (the quadratic-pair predictor)") {
    val docs = (0 until 20).map { i =>
      // 1 group of 5 copies, 1 of 3, 12 singletons
      val text = if (i < 5) "copy copy copy" else if (i < 8) "dup dup"
        else s"unique text $i"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("hist").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val hist = Dedup.dupGroupHistogram(spark, tmp)
      .as[(Long, Long)].collect().toMap
    assert(hist === Map(1L -> 12L, 3L -> 1L, 5L -> 1L))
  }

  test("prefix join: cross-family pairs are absent, within-family present") {
    val got = Dedup.prefixJoinPairsOf(craftedDocs, 0.3)
      .as[(Long, Long, Double)].collect()
    assert(got.forall { case (a, b, _) => a / 8 == b / 8 })
    assert(got.exists { case (a, b, _) => a / 8 == 0 && b / 8 == 0 })
  }

  test("prefix join: rarest-first ordering prunes candidates a value order cannot") {
    // boilerplate-heavy corpus: every doc shares a 30-token template and
    // differs only in a 4-token tail — the skew case the frequency order
    // exists for. Under (df, h) order the template shingles (df = 40)
    // sort AFTER each doc's rare tail shingles, so prefixes hold only
    // rare tokens; under a uniform dictionary (pure hash order) template
    // shingles land in prefixes and collide corpus-wide.
    val docs = (0 until 40).map { i =>
      val template = (0 until 8).map(t => s"boiler_$t").mkString(" ")
      val tail = (0 until 30).map(j => s"doc${i}_$j").mkString(" ")
      (i.toLong, s"$template $tail")
    }.toDF("doc_id", "text")
    val sets = Dedup.prefixSetsOf(docs).cache()
    def candidates(freq: org.apache.spark.sql.DataFrame): Long = {
      val pre = Dedup.prefixesUnder(sets, freq, 0.3)
        .select(col("h"), col("doc_id"), col("sz"))
      pre.toDF("h", "doc_a", "sz_a")
        .join(pre.toDF("h2", "doc_b", "sz_b"),
          col("h") === col("h2") && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct().count()
    }
    val sharp = candidates(Dedup.prefixFreqOf(sets))
    val blunt = candidates(sets.select(explode(col("hs")).as("h"))
      .distinct().withColumn("f", lit(1L)))
    assert(sharp < blunt,
      s"frequency order ($sharp) should beat uniform order ($blunt)")
    assert(blunt >= 10 * sharp.max(1),
      s"expected an order-of-magnitude gap, got $sharp vs $blunt")
    sets.unpersist()
  }

  test("exact clusters: every MinHash cluster refines into one exact cluster") {
    // guaranteed containment: a string-jaccard pair also passes
    // hash-jaccard (collisions only inflate it), and minhash pairs verify
    // string-jaccard — so band clusters can never straddle exact clusters
    val exact = Dedup.exactJoinClusters(spark, "/root/testdata/sf0.01")
      .as[(Long, Long)].collect().toMap
    val banded = Dedup.minhashClusters(spark, "/root/testdata/sf0.01")
      .as[(Long, Long)].collect().toSeq
    assert(banded.nonEmpty && exact.nonEmpty)
    banded.groupBy(_._2).foreach { case (c, members) =>
      val exactIds = members.map(m => exact.get(m._1)).distinct
      assert(exactIds.size == 1 && exactIds.head.isDefined,
        s"minhash cluster $c straddles exact clusters $exactIds")
    }
  }

  // --- matryoshka truncated rerank -----------------------------------------

  test("truncated rerank: with a full-corpus shortlist it IS brute force") {
    val n = sf("embeddings", dir).count().toInt
    val got = Similarity.truncatedTopK(spark, dir, candidates = n)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val brute = Similarity.bruteForceTopK(spark, dir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(got == brute)
  }

  test("truncated rerank: tight shortlist recovers true neighbors when the prefix carries the signal") {
    // Matryoshka premise: information concentrates in the leading dims.
    // 6 clusters separated in the 16-dim head; the 48-dim tail is small
    // deterministic jitter — so head ranking finds the right shortlist
    // even at candidates = 10 of 60.
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 60).map { i =>
      val c = i % 6
      val head = (0 until 16).map(d =>
        (if (d == c) 1.0f else 0.1f) + rnd.nextFloat() * 0.05f)
      val tail = (0 until 48).map(_ => rnd.nextFloat() * 0.02f)
      (i.toLong, (head ++ tail).toArray)
    }.toDF("vec_id", "embedding")
    val got = Similarity.truncatedTopKOf(vecs, candidates = 10)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect().toSet
    // brute-force truth = full-corpus shortlist (rerank over everything)
    val brute = Similarity.truncatedTopKOf(vecs, candidates = 60)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect().toSet
    val recall = (got & brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall")
  }

  // --- multi-source bfs ----------------------------------------------------

  test("bfs: path-graph distances, disconnected seed, hop cap") {
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (10L, 11L)).toDF("doc_a", "doc_b")
    val d = Bfs.hopDistance(pairs,
        col("doc_id") === 0 || col("doc_id") === 10, maxHops = 4)
      .as[(Long, Int)].collect().toMap
    assert(d == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4,
      10L -> 0, 11L -> 1), s"got $d") // nodes 5, 6 are beyond the cap
  }

  test("bfs: cycle terminates and multi-source takes the minimum") {
    val ring = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 0L)).toDF("doc_a", "doc_b")
    val d = Bfs.hopDistance(ring,
        col("doc_id") === 0 || col("doc_id") === 3, maxHops = 4)
      .as[(Long, Int)].collect().toMap
    assert(d == Map(0L -> 0, 3L -> 0, 1L -> 1, 2L -> 1, 4L -> 1, 5L -> 1))
  }

  test("bfs: no seeds in the graph yields an empty result, not a crash") {
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    assert(Bfs.hopDistance(pairs, col("doc_id") === 99).count() == 0)
  }

  // --- markov transitions --------------------------------------------------

  test("transitions: handmade sequences give exact counts and floor probabilities") {
    val ev = Seq(
      (1L, 1L, 100L, "A"), (2L, 1L, 200L, "B"),
      (3L, 1L, 300L, "A"), (4L, 1L, 400L, "C"),
      (5L, 2L, 100L, "A"), (6L, 2L, 200L, "B"))
      .toDF("event_id", "user_id", "sec", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Analytics.transitionsOf(ev)
      .as[(String, String, Long, Long)].collect().toSet
    // user 1: A→B, B→A, A→C; user 2: A→B. src A: 3 total.
    assert(got == Set(
      ("A", "B", 2L, 666666L), ("A", "C", 1L, 333333L),
      ("B", "A", 1L, 1000000L)))
  }

  test("transitions: per-src micro-probabilities sum to 1e6 minus floor loss") {
    val rows = Analytics.transitions(spark, dir)
      .groupBy(col("src"))
      .agg(sum(col("p_micro")).as("p"), count(lit(1)).as("k"))
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, p, k) =>
      assert(p > 1000000L - k && p <= 1000000L, s"src $src sums to $p")
    }
  }

  // --- prefix probe (exact intake triage) ----------------------------------

  test("prefix probe: index-served cross pairs equal the brute-force cross join") {
    val tmp = java.nio.file.Files.createTempDirectory("prefixidx").toString
    val docs = craftedDocs.cache()
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    graft.sources.IndexStore.buildPrefix(standing, tmp)
    val got = Dedup.prefixProbe(delta,
        graft.sources.IndexStore.readPrefix(spark, tmp))
      .as[(Long, Long, Double)].collect().toSet
    val cand = standing.select(col("doc_id").as("doc_a"))
      .crossJoin(delta.select(col("doc_id").as("doc_b")))
    val brute = Dedup.verifyExactPairs(cand, Dedup.prefixSetsOf(standing),
        Dedup.prefixSetsOf(delta), 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute)
    assert(got.nonEmpty, "test corpus produced no cross pairs")
    docs.unpersist()
  }

  test("prefix probe: intake budget bounds standing matches per DELTA doc " +
      "to a deterministic subset of the exact probe") {
    val tmp = java.nio.file.Files.createTempDirectory("prefixcap").toString
    val docs = craftedDocs.cache()
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    graft.sources.IndexStore.buildPrefix(standing, tmp)
    val idx = graft.sources.IndexStore.readPrefix(spark, tmp)
    val exact = Dedup.prefixProbe(delta, idx)
      .as[(Long, Long, Double)].collect().toSet
    val cap = 2
    val capped = Dedup.prefixProbe(delta, idx,
        maxCandidatesPerDoc = Some(cap))
      .as[(Long, Long, Double)].collect()
    assert(capped.toSet.subsetOf(exact),
      "every capped cross pair is a true pair of the exact probe")
    assert(capped.groupBy(_._2).values.forall(_.length <= cap),
      "per-DELTA-doc output cannot exceed the intake budget")
    assert(capped.nonEmpty && capped.length < exact.size,
      "fixture dense enough that the budget actually bites")
    val again = Dedup.prefixProbe(delta.repartition(7), idx,
        maxCandidatesPerDoc = Some(cap))
      .as[(Long, Long, Double)].collect()
    assert(again.sorted.toSeq === capped.sorted.toSeq,
      "unique (doc_b, doc_a) rank order → repartition-invariant subset")
    docs.unpersist()
  }

  test("prefix index appends are delta-only and the appended index probes like a rebuild") {
    val tmp = java.nio.file.Files.createTempDirectory("prefixapp").toString
    val s1p = s"$tmp/standing1"; val s2p = s"$tmp/standing2"
    val idxInc = s"$tmp/idx_inc"; val idxFull = s"$tmp/idx_full"
    val standing = craftedDocs.filter(col("doc_id") % 5 =!= 0)
    standing.filter(col("doc_id") < 20).write.parquet(s1p)
    standing.filter(col("doc_id") >= 20).write.parquet(s2p)
    val delta = craftedDocs.filter(col("doc_id") % 5 === 0)

    graft.sources.IndexStore.buildPrefix(spark.read.parquet(s1p), idxInc)
    val appended = graft.sources.IndexStore.writePrefix(
      spark.read.parquet(s2p), idxInc, Append)
    // O(delta): the appended rows derive from the delta parquet + the
    // frozen dictionary — never the standing batch's files
    assert(appended.inputFiles.nonEmpty)
    assert(appended.inputFiles.forall(f => !f.contains("standing1")))

    // stale dictionary (batch-1 frequencies only) must not cost recall:
    // the incrementally-built index answers exactly like a full rebuild
    graft.sources.IndexStore.buildPrefix(standing, idxFull)
    def probe(root: String) = Dedup.prefixProbe(delta,
        graft.sources.IndexStore.readPrefix(spark, root))
      .as[(Long, Long, Double)].collect().toSet
    assert(probe(idxInc) == probe(idxFull))
    assert(probe(idxInc).nonEmpty)
  }

  test("view compaction keeps only the newest versions, which stay self-contained") {
    val root = java.nio.file.Files.createTempDirectory("viewcomp").toString
    def batch(rows: (Long, Double)*) = rows.toSeq.toDF("user_id", "value")
    ViewMaintain.applyViewBatch(batch(1L -> 1.0, 2L -> 2.0), root, 0)
    ViewMaintain.applyViewBatch(batch(1L -> 0.5), root, 1)
    ViewMaintain.applyViewBatch(batch(3L -> 4.0), root, 2)
    ViewMaintain.compactViews(spark, root, keep = 1)
    assert(Tables.versions(spark, root, "v") == Seq(2L))
    val got = spark.read.parquet(s"$root/v=2").orderBy(col("user_id"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1500000L), (2L, 1L, 2000000L),
      (3L, 1L, 4000000L)))
  }

  // --- multi-epoch mixture & curriculum ------------------------------------

  test("epoch mixture: copies are contiguous per doc and per-source totals hit floor+frac exactly") {
    val rows = Corpus.epochMixture(spark, dir)
      .as[(Long, String, Int)].collect().toSeq
    // copy indexes 0..n-1 per doc
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted == (0 until rs.size).toSeq)
    }
    // per-source totals: n*floor + exact count of bucket<frac docs
    val docs = sf("documents", dir)
      .withColumn("bucket", expr(
        s"pmod(${graft.functions.SharedHash.spark48("cast(doc_id AS STRING)")}, 100)").cast("int"))
      .select(col("doc_id"), col("source"), col("bucket"))
      .as[(Long, String, Int)].collect().toSeq
    val fPct = Corpus.EpochPct.toMap
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val f = fPct.getOrElse(src, Corpus.EpochDefaultPct)
      val want = ds.size * (f / 100) + ds.count(_._3 < f % 100)
      val got = rows.count(_._2 == src)
      assert(got == want, s"source $src: $got != $want")
    }
  }

  test("curriculum shards: band formula replayed, positions dense per phase") {
    val rows = Corpus.curriculumShards(spark, dir)
      .as[(Long, Long, Int, Int)].collect().toSeq
    assert(rows.size == sf("documents", dir).count())
    rows.foreach { case (_, ttrU, phase, _) =>
      assert(phase == math.min(Corpus.CurriculumPhases - 1,
        ttrU * Corpus.CurriculumPhases / 1000000).toInt)
    }
    rows.groupBy(_._3).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted == (1 to rs.size).toSeq) // dense 1..n
    }
  }

  test("pack offsets: every offset lands inside the budget and bins reconcile with packBins") {
    val rows = Corpus.packOffsets(spark, dir)
      .as[(Long, String, Int, Int, Int)].collect().toSeq
    rows.foreach { case (_, _, _, off, _) =>
      assert(off >= 0 && off < Corpus.TokenBudget)
    }
    val fromOffsets = rows.groupBy(r => (r._2, r._3))
      .map { case (k, rs) => k -> (rs.size.toLong, rs.map(_._5.toLong).sum) }
    val fromBins = Corpus.packBins(spark, dir)
      .as[(String, Int, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(fromOffsets == fromBins)
  }

  test("k-anonymity report: suppression flags recompute from group sizes") {
    val rows = DataQuality.kAnonymityReport(spark, dir)
      .as[(String, String, Long, Boolean)].collect().toSeq
    rows.foreach { case (_, _, n, sup) =>
      assert(sup == (n < DataQuality.KAnonThreshold))
    }
    assert(rows.map(_._3).sum == sf("documents", dir).count())
  }

  // --- hybrid RRF ----------------------------------------------------------

  test("hybrid RRF: fused top-10 recomputes exactly from the constituent rankings") {
    val lex = TermScoring.bm25(spark, dir, 20)
      .select(col("doc_id")).as[Long].collect().toSeq // already rank order
      .zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    val sem = Similarity.bruteForceTopK(spark, dir, k = 20, numQueries = 1)
      .select(col("c_id"), col("rnk")).as[(Long, Int)].collect().toMap
    val expected = (lex.keySet ++ sem.keySet).toSeq.map { d =>
      val r = lex.get(d).map(r => 1000000L / (60 + r)).getOrElse(0L) +
        sem.get(d).map(r => 1000000L / (60 + r)).getOrElse(0L)
      (d, r)
    }.sortBy { case (d, r) => (-r, d) }.take(10)
    val got = TermScoring.hybridSearch(spark, dir)
      .select(col("doc_id"), col("rrf_u")).as[(Long, Long)].collect().toSeq
    assert(got == expected)
    // both retrievers actually contribute to the fused list
    assert(got.exists { case (d, _) => lex.contains(d) })
    assert(got.exists { case (d, _) => sem.contains(d) })
  }

  // --- merkle segment checksums --------------------------------------------

  test("segment checksums: partition-invariant, and a one-row change flips exactly its segment") {
    val docs = sf("documents", dir).cache()
    val base = DataQuality.segmentChecksumsOf(docs)
      .as[(Int, Long, Long)].collect().toSeq
    val shuffled = DataQuality.segmentChecksumsOf(docs.repartition(1))
      .as[(Int, Long, Long)].collect().toSeq
    assert(base == shuffled) // xor folds commute — layout can't matter
    // corrupt one row: only its segment's checksum may change, counts never
    val tampered = docs.withColumn("text",
      when(col("doc_id") === 7, concat(col("text"), lit(" x")))
        .otherwise(col("text")))
    val after = DataQuality.segmentChecksumsOf(tampered)
      .as[(Int, Long, Long)].collect().toSeq
    val diffs = base.zip(after).filter { case (b, a) => b != a }
    assert(diffs.map(_._1._1) == Seq(7 % DataQuality.ChecksumSegments))
    assert(diffs.forall { case (b, a) => b._2 == a._2 && b._3 != a._3 })
    docs.unpersist()
  }

  test("segment checksums: xor algebra makes the integrity table O(delta)-maintainable") {
    // checksum(base ∪ delta) = checksum(base) XOR checksum(delta) per
    // segment — an append updates the standing table without rescanning
    // the base, the same delta discipline as the indexes
    val docs = sf("documents", dir)
    val base = docs.filter(col("doc_id") % 7 =!= 0)
    val delta = docs.filter(col("doc_id") % 7 === 0)
    def cs(df: org.apache.spark.sql.DataFrame) =
      DataQuality.segmentChecksumsOf(df)
        .as[(Int, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    val all = cs(docs); val b = cs(base); val d = cs(delta)
    all.foreach { case (seg, (n, x)) =>
      val (bn, bx) = b.getOrElse(seg, (0L, 0L))
      val (dn, dx) = d.getOrElse(seg, (0L, 0L))
      assert(n == bn + dn && x == (bx ^ dx), s"segment $seg")
    }
  }

  // --- last-touch attribution ----------------------------------------------

  test("attribution: purchases credit the latest prior touch; touchless purchases drop") {
    val ev = Seq(
      (1L, 1L, 100L, "view", 10.0), (2L, 1L, 200L, "click", 0.0),
      (3L, 1L, 300L, "purchase", 5.0), (4L, 1L, 400L, "purchase", 7.0),
      (5L, 1L, 500L, "click", 0.0), (6L, 1L, 600L, "purchase", 9.0),
      (7L, 2L, 100L, "purchase", 3.0)) // user 2: purchase with no touch
      .toDF("event_id", "user_id", "sec", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Analytics.lastTouchOf(ev)
      .as[(Long, Long, Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (3L, 1L, 2L, "click", 5000000L),  // latest touch = click 2
      (4L, 1L, 2L, "click", 7000000L),  // consecutive purchase: same touch
      (6L, 1L, 5L, "click", 9000000L))) // new click wins
  }

  // --- incremental aggregate view ------------------------------------------

  test("incremental view merge equals the from-scratch aggregate") {
    val got = ViewMaintain.incrementalAgg(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    val want = sf("events", dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 1e6, 0) AS BIGINT)")).as("sum_micro"))
      .orderBy(col("user_id"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    // second call reuses the memoized stored view (same result, no rebuild)
    val again = ViewMaintain.incrementalAgg(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(again == want)
  }
}
