package graft.ops

import graft.SparkSpec
import graft.collab.{Report, Validation}
import scala.util.Random

/** Seeded randomized tests pitting distributed operators against naive
  * in-memory reference implementations (the ScalaCheck-style depth of
  * SURVEY §5.3, deterministic via fixed seeds). */
class RandomizedSpec extends SparkSpec {
  import spark.implicits._

  test("asofJoin equals a naive per-row scan on random data (5 seeds)") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val right = (1 to 60).map(i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(40).toLong * 2, rnd.nextInt(1000) / 10.0))
        .distinct
        .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq // unique (key, ts)
      val left = (1 to 40).map(i =>
        (100L + i, rnd.nextInt(6).toLong, rnd.nextInt(90).toLong))

      val naive = left.flatMap { case (id, k, t) =>
        val prior = right.filter(r => r._1 == k && r._2 <= t)
        if (prior.isEmpty) None
        else Some((id, prior.maxBy(_._2)._3))
      }.toMap

      val out = AsOfJoin.asofJoin(
        left.toDF("event_id", "user_id", "ts"),
        right.toDF("user_id", "ts", "v"),
        Seq("user_id"), "ts", "v").collect()
        .map(r => r.getLong(2) -> r.getDouble(3)).toMap

      assert(out === naive, s"seed=$seed")
    }
  }

  test("binned rangeJoin equals the naive theta join on random data (5 seeds)") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 50)
      // times straddle bin boundaries on purpose (span = 100)
      val left = (1 to 40).map(i =>
        (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(1000).toLong))
      val right = (1 to 80).map(i =>
        (1000L + i, rnd.nextInt(4).toLong, rnd.nextInt(1000).toLong))
      val (lo, hi) = (-100L, 30L)

      val naive = (for {
        (lid, lk, lt) <- left
        (rid, rk, rt) <- right
        if lk == rk && rt >= lt + lo && rt <= lt + hi
      } yield (lid, rid)).toSet

      val got = RangeJoin.rangeJoin(
        left.toDF("l_id", "k", "t"),
        right.toDF("r_id", "k", "t"),
        Seq("k"), "t", lo, hi).collect()
        .map(r => (r.getLong(r.fieldIndex("l_id")), r.getLong(r.fieldIndex("r_id"))))
        .toSet
      assert(got === naive, s"seed=$seed")
    }
  }

  test("distributed RMSE equals naive computation on random data (5 seeds)") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 100)
      val pairs = (1 to 50).map(i =>
        (i / 7, i % 7, rnd.nextInt(50) / 10.0, rnd.nextInt(50) / 10.0))
      val valid = pairs.map(p => (p._1, p._2, p._3)).toDF("user", "product", "rating")
      val preds = pairs.map(p => (p._1, p._2, p._4)).toDF("user", "product", "prediction")
      val naive = math.sqrt(
        pairs.map(p => math.pow(p._3 - p._4, 2)).sum / pairs.length)
      val got = Report.of(Validation.joined(valid, preds), s"seed=$seed").rmse
      assert(math.abs(got - naive) < 1e-9, s"seed=$seed: $got vs $naive")
    }
  }

  test("distributed CC (label propagation) equals union-find on random " +
      "graphs at realistic edge counts (3 seeds x ~10k edges)") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed + 200)
      // ~10k edges over 4k nodes: a mix of large sparse components,
      // chains (worst case for propagation rounds), and singleton pairs
      val chain = (0 until 500).map(i => (i.toLong, (i + 1).toLong))
      val random = (1 to 9000).map { _ =>
        val a = 1000L + rnd.nextInt(3000)
        val b = 1000L + rnd.nextInt(3000)
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2)
      val edges = (chain ++ random).distinct
        .toDF("doc_a", "doc_b").cache()

      def clusters(threshold: Long) =
        Dedup.connectedComponents(edges, driverThreshold = threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      val viaUnionFind = clusters(Long.MaxValue) // driver escape hatch
      val viaPropagation = clusters(0L)          // distributed path
      assert(viaPropagation === viaUnionFind, s"seed=$seed")
      edges.unpersist()
    }
  }

  test("salted join equals plain join on adversarially skewed data") {
    val rnd = new Random(11)
    // 95% of fact rows on one hot key
    val fact = (1 to 3000).map { i =>
      val k = if (rnd.nextInt(20) < 19) 3L else rnd.nextInt(10).toLong
      (i.toLong, k, rnd.nextInt(1000))
    }.toDF("event_id", "k", "v")
    val dim = (0 until 10).map(i => (i.toLong, s"dim$i")).toDF("dk", "name")

    val plain = fact.join(dim, fact("k") === dim("dk"))
      .select("event_id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    val salted = Skew.saltedJoin(fact, dim, "k", "dk", "event_id")
      .select("event_id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(salted.toSeq === plain.toSeq)
  }

  test("salted agg equals plain agg on adversarially skewed data") {
    // 90% of rows on one hot key
    val rnd = new Random(7)
    val rows = (1 to 2000).map { i =>
      val k = if (rnd.nextInt(10) < 9) 1L else rnd.nextInt(20).toLong
      (i.toLong, k, rnd.nextInt(10000) / 100.0)
    }
    val df = rows.toDF("event_id", "user_id", "value")
    val salted = Skew.saltedAgg(df, "user_id", "value", "event_id")
      .orderBy("user_id").collect()
    // driver-side exact recomputation in the same micro-units: the salted
    // integer partials must reproduce it bit-for-bit (transparency), and
    // the micro-total sits within one ulp-per-row of the naive double sum
    val naive = rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (k, rs) =>
      (k, rs.length.toLong,
        rs.map(v => math.floor(v._3 * 1e6).toLong).sum)
    }
    assert(salted.length === naive.length)
    salted.zip(naive).foreach { case (s, (k, n, micro)) =>
      assert(s.getLong(0) === k)
      assert(s.getLong(1) === n)
      assert(math.abs(s.getDouble(2) - micro / 1e6) <= 0.005 + 1e-9)
    }
  }

  test("degree-oriented triangleCount equals brute-force enumeration on " +
      "random graphs, and out-degrees respect the √(2m) bound (5 seeds)") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 300)
      val n = 60
      val edges = (1 to 300).map { _ =>
        val a = rnd.nextInt(n); val b = rnd.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(e => e._1 != e._2).distinct
      val nbrs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
      // NB: .count on the Set, not a for-yield over it — a Set inner
      // generator dedups the yielded constants and silently undercounts
      val brute = edges.map { case (a, b) =>
        (nbrs(a) intersect nbrs(b)).count(c => c > b)
      }.sum.toLong
      val df = edges.toDF("doc_a", "doc_b")
      assert(Dedup.triangleCount(df).head().getLong(0) === brute, s"seed=$seed")
      val maxOut = Dedup.orientEdges(df)
        .groupBy("src").count().agg(org.apache.spark.sql.functions.max("count"))
        .head().getLong(0)
      assert(maxOut <= math.ceil(math.sqrt(2.0 * edges.size)).toLong + 1,
        s"seed=$seed: out-degree $maxOut exceeds arboricity bound")
    }
  }

  test("MOR readView over random multi-batch op logs equals the sequential " +
      "in-memory fold (5 seeds)") {
    val ops = Array("insert", "update", "delete")
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 400)
      val base = (0 until 30).filter(_ => rnd.nextBoolean())
        .map(k => k.toLong -> s"v$k")
      val batches = (0 until 4).map { b =>
        (0 until 12).map { _ =>
          (rnd.nextInt(40).toLong, ops(rnd.nextInt(3)), s"p$b-${rnd.nextInt(99)}")
        }.distinctBy(_._1) // ≤1 op per key per batch (duplicate keys within
                           // one changeset are undefined for MERGE, as for
                           // every table format's MERGE INTO)
      }
      // in-memory sequential fold of the same state machine
      var state = base.toMap
      batches.foreach(_.foreach { case (k, op, p) =>
        op match {
          case "delete" => state -= k
          case "update" => if (state.contains(k)) state += (k -> p)
          case "insert" => state += (k -> p)
        }
      })
      val out = Upsert.readView(
        base.toDF("k", "v"),
        batches.map(_.toDF("k", "op", "v")), "k", "v")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out === state, s"seed=$seed")
    }
  }

  test("substringSpanRemoval equals a brute-force reference on random " +
      "small-alphabet corpora (3 seeds)") {
    val gramLen = Dedup.SubstrGramLen
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      // tiny alphabet + doc lengths straddling the gram length force both
      // genuine duplicated grams and untouched short docs
      val docs = (0 until 25).map { id =>
        val n = 8 + rnd.nextInt(40)
        (id.toLong, Seq.fill(n)(s"w${rnd.nextInt(6)}").mkString(" "))
      }
      val tmp = java.nio.file.Files.createTempDirectory(s"sr$seed").toString
      docs.map { case (id, t) => (id, t, "s", t.length.toLong) }
        .toDF("doc_id", "text", "source", "n_chars")
        .write.parquet(s"$tmp/documents.parquet")

      // brute force: global gram occurrence counts over the SAME hash-free
      // gram identity (the operator hashes only as an equality proxy)
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1) }.toMap
      val occs = docs.flatMap { case (id, _) =>
        val tk = toks(id)
        if (tk.length < gramLen) Seq.empty
        else (0 to tk.length - gramLen).map(p =>
          (id, p, tk.slice(p, p + gramLen).mkString(" ")))
      }
      val counts = occs.groupBy(_._3).view.mapValues(_.size).toMap
      val expected = docs.map { case (id, t) =>
        val tk = toks(id)
        val covered = occs.collect {
          case (d, p, g) if d == id && counts(g) >= 2 =>
            p until (p + gramLen)
        }.flatten.toSet
        val clean = tk.zipWithIndex.collect {
          case (w, i) if !covered(i) => w
        }.mkString(" ")
        (id, tk.length, covered.size, clean)
      }.sortBy(_._1)

      val got = Dedup.substringSpanRemoval(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .sortBy(_._1)
      assert(got.toSeq === expected, s"seed $seed")
    }
  }

  test("pcaProject coordinates equal the driver-side (e-mean)-dot-v replay") {
    val dir = "/root/testdata/sf0.001"
    val out = EmbeddingStats.pcaProject(spark, dir).collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getDouble)).toMap
    val (means, comps, offsets) = EmbeddingStats.fittedPca.get
    val vecs = Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    vecs.foreach { case (id, e) =>
      comps.indices.foreach { k =>
        // same left-fold order as vec_dot
        var acc = 0.0; var d = 0
        while (d < e.length) { acc += e(d) * comps(k)(d); d += 1 }
        val expect = BigDecimal(acc - offsets(k))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(out(id)(k) === expect, s"vec $id pc_$k")
      }
    }
  }

  test("canonicalText is idempotent and invariant under case flips / " +
      "punctuation injection / whitespace runs (5 seeds)") {
    import org.apache.spark.sql.functions.col
    val words = Seq("spark", "merge", "row", "data", "join", "x9", "q")
    val punct = Seq(",", "!", ";", "--", "...", "\t", "\n", "  ")
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 400)
      val base = (1 to 30).map { i =>
        (1 to (2 + rnd.nextInt(8))).map(_ => words(rnd.nextInt(words.size)))
          .mkString(" ")
      }
      // mangle: random case flips, punctuation injected between words,
      // whitespace runs — all must canonicalize to the same form
      val mangled = base.map { t =>
        t.split(" ").map { w =>
          val cased = w.map(c => if (rnd.nextBoolean()) c.toUpper else c)
          cased + (if (rnd.nextBoolean()) punct(rnd.nextInt(punct.size)) else "")
        }.mkString(if (rnd.nextBoolean()) "  " else " ")
      }
      val df = (base ++ mangled).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
        .select(col("id"), Dedup.canonicalText(col("text")).as("c"))
      val canon = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      base.indices.foreach { i =>
        assert(canon(i.toLong) === canon((i + base.size).toLong),
          s"seed=$seed doc=$i: mangled variant canonicalized differently")
      }
      // idempotence: canonicalizing the canonical form is a fixpoint
      val twice = df.select(col("id"), Dedup.canonicalText(col("c")).as("c2"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(twice === canon, s"seed=$seed: canonicalText not idempotent")
    }
  }

  test("PQ lloyd: every centroid is inside the data's bounding box and " +
      "codebooks are seed-deterministic") {
    val rnd = new Random(77)
    val pts = Array.fill(300)(Array.fill(8)(rnd.nextGaussian()))
    val a = Similarity.lloyd(pts, 16, 15, seed = 1L)
    val b = Similarity.lloyd(pts, 16, 15, seed = 1L)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq, "same seed, same codebook")
    val c = Similarity.lloyd(pts, 16, 15, seed = 2L)
    assert(a.map(_.toSeq).toSeq !== c.map(_.toSeq).toSeq, "different seed differs")
    val lo = (0 until 8).map(d => pts.map(_(d)).min)
    val hi = (0 until 8).map(d => pts.map(_(d)).max)
    a.foreach { cen =>
      (0 until 8).foreach { d =>
        assert(cen(d) >= lo(d) && cen(d) <= hi(d),
          "centroid outside data bounding box (means of points can't be)")
      }
    }
  }

  test("prefix join equals naive all-pairs jaccard on random corpora (3 seeds)") {
    import org.apache.spark.sql.functions._
    for (seed <- 1 to 3) {
      val rnd = new Random(seed + 600)
      // docs draw 6-14 tokens from a 30-word vocab: dense overlap, so
      // pairs straddle the threshold from both sides
      val docs = (0 until 30).map { i =>
        val n = 6 + rnd.nextInt(9)
        (i.toLong, (0 until n).map(_ => s"w${rnd.nextInt(30)}").mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val sets = Dedup.prefixSetsOf(df)
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Long](1).toSet).toMap
      val naive = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        sa = sets(a); sb = sets(b)
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= 0.3
      } yield (a, b)).toSet
      val got = Dedup.prefixJoinPairsOf(df, 0.3)
        .select(col("doc_a"), col("doc_b"))
        .as[(Long, Long)].collect().toSet
      assert(got === naive, s"seed=$seed")
    }
  }

  test("sessionize equals a naive gap-split fold on random streams with " +
      "exact-boundary gaps (3 seeds)") {
    import org.apache.spark.sql.functions._
    val gapNs = 1800L * 1000000000L
    for (seed <- 1 to 3) {
      val rnd = new Random(seed + 1700)
      // inter-event gaps drawn AROUND the 30-min boundary, including
      // exactly-equal (gap rule is strict >: equal stays in-session),
      // plus duplicate timestamps (event_id breaks the sort tie)
      val events = (1 to 5).flatMap { u =>
        var t = 1000000000000L * u
        (1 to 40).map { i =>
          val choice = rnd.nextInt(5)
          val delta = choice match {
            case 0 => gapNs            // exactly the gap: same session
            case 1 => gapNs + 1L       // one ns over: new session
            case 2 => 0L               // duplicate ts
            case _ => rnd.nextLong(gapNs * 2)
          }
          t += delta
          (u * 1000L + i, u.toLong, t)
        }
      }
      val tmp = java.nio.file.Files.createTempDirectory("sess").toString
      events.toDF("event_id", "user_id", "ts")
        .write.parquet(s"$tmp/events.parquet")

      val naive = events.groupBy(_._2).toSeq.map { case (u, evs) =>
        val sorted = evs.sortBy(e => (e._3, e._1)).map(_._3)
        val sizes = scala.collection.mutable.ArrayBuffer(0L)
        var prev = Long.MinValue
        var first = true
        sorted.foreach { t =>
          if (!first && t - prev > gapNs) sizes += 0L
          sizes(sizes.length - 1) += 1
          prev = t; first = false
        }
        val avg = BigDecimal(sizes.sum.toDouble / sizes.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (u, sizes.length.toLong, avg, sizes.max)
      }.toSet

      val got = Relational.sessionize(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      assert(got === naive, s"seed=$seed")
    }
  }

  test("gap-fill equals a naive per-user carry-forward fold on random " +
      "sparse event streams (3 seeds)") {
    import org.apache.spark.sql.functions._
    val nsDay = graft.ops.Analytics.NsPerDay
    for (seed <- 1 to 3) {
      val rnd = new Random(seed + 1500)
      // sparse per-user activity with multi-day gaps
      val events = (1 to 300).map { i =>
        val u = 1L + rnd.nextInt(6)
        val day = rnd.nextInt(25).toLong
        (i.toLong, u, day * nsDay + rnd.nextInt(1000).toLong)
      }
      val tmp = java.nio.file.Files.createTempDirectory("gapfill").toString
      events.toDF("event_id", "user_id", "ts")
        .write.parquet(s"$tmp/events.parquet")

      val naive = events.groupBy(_._2).toSeq.flatMap { case (u, evs) =>
        val perDay = evs.groupBy(_._3 / nsDay).view.mapValues(_.size.toLong).toMap
        val (d0, d1) = (perDay.keys.min, perDay.keys.max)
        var carry = 0L
        (d0 to d1).map { d =>
          val filled = !perDay.contains(d)
          carry = perDay.getOrElse(d, carry)
          (u, d, carry, filled)
        }
      }.toSet

      val got = Analytics.gapFillDaily(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
      assert(got === naive, s"seed=$seed")
    }
  }

  test("pack offsets equal a naive per-source running fold on random doc " +
      "sizes (3 seeds)") {
    import org.apache.spark.sql.functions._
    val budget = graft.ops.Corpus.TokenBudget
    for (seed <- 1 to 3) {
      val rnd = new Random(seed + 1600)
      val docs = (0 until 120).map { i =>
        val src = s"s${rnd.nextInt(3)}"
        val nTok = 1 + rnd.nextInt(200)
        (i.toLong, src, (0 until nTok).map(_ => "w").mkString(" "))
      }
      val tmp = java.nio.file.Files.createTempDirectory("packoff").toString
      docs.toDF("doc_id", "source", "text")
        .write.parquet(s"$tmp/documents.parquet")

      val naive = docs.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
        var cum = 0L
        ds.sortBy(_._1).map { case (id, src, text) =>
          val n = text.split(" ").length
          val bin = (cum / budget).toInt
          val off = (cum % budget).toInt
          cum += n
          (id, src, bin, off, n)
        }
      }.toSet

      val got = Corpus.packOffsets(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
          r.getInt(4)))
        .toSet
      assert(got === naive, s"seed=$seed")
    }
  }

  test("capped prefix join is a deterministic bounded subset of the exact " +
      "join on random corpora (3 seeds)") {
    import org.apache.spark.sql.functions._
    for (seed <- 1 to 3) {
      val rnd = new Random(seed + 900)
      val docs = (0 until 30).map { i =>
        val n = 6 + rnd.nextInt(9)
        (i.toLong, (0 until n).map(_ => s"w${rnd.nextInt(25)}").mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val exact = Dedup.prefixJoinPairsOf(df, 0.3)
        .select(col("doc_a"), col("doc_b"))
        .as[(Long, Long)].collect().toSet
      for (cap <- Seq(1, 2, 5)) {
        val capped = Dedup.prefixJoinPairsOf(df, 0.3, Some(cap))
          .select(col("doc_a"), col("doc_b"))
          .as[(Long, Long)].collect()
        assert(capped.toSet.subsetOf(exact), s"seed=$seed cap=$cap")
        assert(capped.groupBy(_._1).values.forall(_.length <= cap),
          s"seed=$seed cap=$cap per-doc bound")
        val again = Dedup.prefixJoinPairsOf(df.repartition(5), 0.3, Some(cap))
          .select(col("doc_a"), col("doc_b"))
          .as[(Long, Long)].collect()
        assert(again.sorted.toSeq === capped.sorted.toSeq,
          s"seed=$seed cap=$cap determinism")
      }
      // the candidate bound dominates the exact pair count
      assert(Dedup.candidatePairBound(df, 0.3) >= exact.size, s"seed=$seed")
    }
  }

  test("dup-group histogram reconciles with direct digest grouping on " +
      "random duplicate-dense corpora (3 seeds)") {
    import org.apache.spark.sql.functions._
    for (seed <- 1 to 3) {
      val rnd = new Random(seed + 950)
      // draw texts from a SMALL pool so exact-dup groups of varied size form
      val pool = (0 until 8).map(p => s"text body $p ${"filler " * (p % 3)}")
      val docs = (0 until 40).map(i => (i.toLong, pool(rnd.nextInt(pool.size))))
      val naive = docs.groupBy(_._2).values.map(_.size).toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
        .map { case (k, v) => k.toLong -> v }
      val tmp = java.nio.file.Files.createTempDirectory("rhist").toString
      docs.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
      val got = Dedup.dupGroupHistogram(spark, tmp)
        .as[(Long, Long)].collect().toMap
      assert(got === naive, s"seed=$seed")
      // histogram mass reconciles with the corpus size
      assert(got.map { case (g, n) => g * n }.sum === docs.size.toLong)
    }
  }

  test("lexical-cosine prefix filter loses no pairs vs the brute-force " +
      "term self-join on random corpora (3 seeds × 2 thresholds)") {
    import org.apache.spark.sql.functions._
    for (seed <- 1 to 3; t <- Seq(0.5, 0.35)) {
      val rnd = new Random(seed + 1200)
      // near-dup families (shared base + small noise) + random docs:
      // plenty of pairs straddling the threshold from both sides
      val docs = (0 until 36).map { i =>
        val fam = i / 6
        val base = (0 until 10).map(j => s"t${fam}_$j")
        val noise = (0 until 1 + i % 4).map(_ => s"n${rnd.nextInt(40)}")
        (i.toLong, rnd.shuffle(base ++ noise).mkString(" "))
      }
      val tmp = java.nio.file.Files.createTempDirectory("lexcos").toString
      docs.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")

      // brute-force reference: same tf-idf weights, full pair space
      val d = Tables.documents(spark, tmp)
      val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nd = d.count()
      val wuRows = tf.join(dfr, "term")
        .filter(col("df") * 10 <= nd)
        .select(col("doc_id"), col("term"),
          floor(col("tf") * log((lit(nd) + 1) / (col("df") + 1)) * 1000)
            .cast("bigint").as("w"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val byDoc = wuRows.groupBy(_._1).view
        .mapValues(_.map(x => x._2 -> x._3).toMap).toMap
      val ids = byDoc.keys.toSeq.sorted
      val naive = (for {
        a <- ids; b <- ids if a < b
        wa = byDoc(a); wb = byDoc(b)
        dot = wa.keySet.intersect(wb.keySet).toSeq.map(k => wa(k) * wb(k)).sum
        if dot > 0
        na = wa.values.map(x => x * x).sum
        nb = wb.values.map(x => x * x).sum
        c = BigDecimal(dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if c >= t
      } yield (a, b, c)).toSet

      val got = TermScoring.lexicalCosinePairs(spark, tmp, threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(got === naive, s"seed=$seed t=$t")
      assert(naive.nonEmpty, s"seed=$seed t=$t fixture found nothing")
    }
  }

  test("bfs hop distance equals naive BFS on random graphs (3 seeds)") {
    import org.apache.spark.sql.functions.col
    for (seed <- 1 to 3) {
      val rnd = new Random(seed + 700)
      val edges = (1 to 40)
        .map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter { case (a, b) => a != b }.distinct
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).toSet }
      val nodes = adj.keySet
      val seeds = nodes.filter(_ % 3 == 0)
      // naive multi-source BFS to 4 hops
      var dist = seeds.map(_ -> 0).toMap
      var frontier = seeds
      for (d <- 1 to 4) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty))
          .diff(dist.keySet)
        dist = dist ++ next.map(_ -> d)
        frontier = next
      }
      val got = Bfs.hopDistance(edges.toDF("doc_a", "doc_b"),
          col("doc_id") % 3 === 0)
        .as[(Long, Int)].collect().toMap
      assert(got === dist, s"seed=$seed")
    }
  }

  test("transition matrix equals a naive fold on random event streams (3 seeds)") {
    import org.apache.spark.sql.functions._
    for (seed <- 1 to 3) {
      val rnd = new Random(seed + 800)
      val types = Seq("view", "click", "purchase")
      val ev = (1 to 120).map { i =>
        (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(40).toLong,
          types(rnd.nextInt(3)))
      }
      val naiveCounts = ev.groupBy(_._2).toSeq.flatMap { case (_, es) =>
        es.sortBy(e => (e._3, e._1)).map(_._4).sliding(2)
          .collect { case Seq(a, b) => (a, b) }
      }.groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
      val naive = naiveCounts.map { case ((src, dst), n) =>
        val tot = naiveCounts.collect {
          case ((s, _), m) if s == src => m }.sum
        (src, dst, n, n * 1000000L / tot)
      }.toSet
      val got = Analytics.transitionsOf(
          ev.toDF("event_id", "user_id", "sec", "event_type")
            .withColumn("ts", timestamp_seconds(col("sec"))))
        .as[(String, String, Long, Long)].collect().toSet
      assert(got === naive, s"seed=$seed")
    }
  }
}
