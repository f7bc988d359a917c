package graft.ops

import graft.SparkSpec
import graft.ops.Similarity.BandGeometry
import org.apache.spark.sql.functions._

/** Invariant tests on sf0.001 — value-level correctness is enforced by the
  * DuckDB oracle gate (tools/check_oracle.py ≙ driver t2); these specs pin
  * schemas, invariants, and cross-operator consistency. */
class RelationalSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("all registered queries run and declare deterministic output") {
    val skipSlow = Set("cf_als_rmse") // ALS covered in CollabEventsSpec
    graft.SparkEntry.queries.filterNot(q => skipSlow(q._1)).foreach {
      case (name, fn) =>
        val df = fn(spark, dir)
        assert(df.columns.nonEmpty, s"$name has no columns")
        assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("every oracle key has a matching query") {
    val qs = graft.SparkEntry.queries.keySet
    val orphans = graft.SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("events.ts normalizes to identical epoch-nanos whether the parquet " +
      "writes TIMESTAMP(MICROS) or BIGINT nanos (schema-drift tolerance)") {
    // the round-7 testdata regeneration flipped the physical type under
    // every event-time operator; Tables.events is the single choke point
    // that absorbs either encoding
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ts-enc").toString
    val rows = Seq((1L, 1700000000123456L), (2L, 1700000456789012L),
      (3L, 915148800000001L)) // 1999: pre-epoch-2000 edge intact
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, us) =>
        org.apache.spark.sql.Row(id, java.time.LocalDateTime.ofEpochSecond(
          us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC))
      }),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampNTZType))))
      .write.mode("overwrite").parquet(s"$base/micros/events.parquet")
    rows.map { case (id, us) => (id, us * 1000L) }.toDF("event_id", "ts")
      .write.parquet(s"$base/nanos/events.parquet")

    def view(sub: String) = Tables.events(spark, s"$base/$sub")
      .select(col("event_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val micros = view("micros")
    val nanos = view("nanos")
    assert(micros === nanos, "both physical encodings must normalize alike")
    assert(micros === rows.map { case (id, us) => id -> us * 1000L }.toMap)

    // session-timezone independence: the NTZ→nanos conversion is pure
    // field extraction, so neither the timezone at frame-BUILD time nor
    // at ACTION time (lazy-eval hazard) may shift a value
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata") // +05:30
      assert(view("micros") === micros, "build+act under a shifted zone")
      val lazyFrame = Tables.events(spark, s"$base/micros")
        .select(col("event_id"), col("ts"))
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      assert(lazyFrame.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        === micros, "frame built under one zone, evaluated under another")
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("split counts partition the events table") {
    val counts = Relational.splitCounts(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = Tables.events(spark, dir).count()
    assert(counts("I") + counts("V") === total)
    assert(counts("I") > counts("V"), "80/20 split")
  }

  test("rmse query returns a single finite row") {
    val rmse = Relational.rmseEvents(spark, dir).head().getDouble(0)
    assert(!rmse.isNaN && rmse >= 0.0)
  }

  test("sessionize: session counts bounded by event counts") {
    val sess = Relational.sessionize(spark, dir).collect()
    assert(sess.nonEmpty)
    sess.foreach { r =>
      assert(r.getLong(1) >= 1, "each user has >= 1 session")
      assert(r.getDouble(2) >= 1.0, "avg events per session >= 1")
    }
  }

  test("approx percentiles track the exact ones within 5%") {
    val exact = Relational.percentiles(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    Relational.approxPercentiles(spark, dir).collect().foreach { r =>
      val (e50, e90) = exact(r.getString(0))
      assert(math.abs(r.getDouble(1) - e50) / e50 < 0.05)
      assert(math.abs(r.getDouble(2) - e90) / e90 < 0.05)
    }
  }

  test("salted aggregation equals the plain group-by") {
    val salted = Skew.saltedUserAgg(spark, dir).collect()
    // identical micro-unit formulation, no salt: the claim is that the
    // two-phase salted plan is TRANSPARENT, which exact integer partials
    // make literally true under any grouping order
    val plain = Tables.events(spark, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        round(sum(floor(col("value") * 1e6).cast("bigint")) / 1e6, 2)
          .as("total"),
        round(sum(floor(col("value") * 1e6).cast("bigint")) /
          (count(lit(1)) * 1e6), 4).as("mean"))
      .orderBy(col("user_id")).collect()
    assert(salted.length === plain.length)
    salted.zip(plain).foreach { case (s, p) =>
      assert(s.getLong(0) === p.getLong(0))
      assert(s.getLong(1) === p.getLong(1))
      assert(s.getDouble(2) === p.getDouble(2))
      assert(s.getDouble(3) === p.getDouble(3))
    }
  }

  test("approx_count_distinct within its 2% rsd band of the exact count") {
    val exact = Relational.countDistinctParts(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Relational.approxDistinctParts(spark, dir).collect().foreach { r =>
      val (flag, approx) = (r.getString(0), r.getLong(1))
      val rel = math.abs(approx - exact(flag)).toDouble / exact(flag)
      assert(rel < 0.1, s"$flag: approx=$approx exact=${exact(flag)} rel=$rel")
    }
  }

  test("semi + anti join partition orders-with/without-urgent customers") {
    val withU = Tables.customer(spark, dir).join(
      Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")),
      col("c_custkey") === col("o_custkey"), "left_semi").count()
    val withoutU = Relational.antiJoin(spark, dir)
      .agg(sum("n_no_urgent")).head().getLong(0)
    assert(withU + withoutU === Tables.customer(spark, dir).count())
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("asof join: latest prior (inclusive) right row per left row") {
    val right = Seq((1L, 10L, 100.0), (1L, 20L, 200.0), (2L, 5L, 50.0))
      .toDF("user_id", "ts", "v")
    val left = Seq(
      (101L, 1L, 15L), // matches right ts=10
      (102L, 1L, 20L), // tie -> inclusive match ts=20
      (103L, 1L, 99L), // matches ts=20
      (104L, 2L, 4L),  // before any right row -> dropped (inner)
      (105L, 3L, 50L)  // no right rows for user 3 -> dropped
    ).toDF("event_id", "user_id", "ts")
    val out = AsOfJoin.asofJoin(left, right, Seq("user_id"), "ts", "v")
      .orderBy("event_id").collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(101L, 102L, 103L))
    assert(out.map(_.getDouble(3)).toSeq === Seq(100.0, 200.0, 200.0))
  }

  test("asof join outer keeps unmatched left rows with null") {
    val right = Seq((1L, 10L, 100.0)).toDF("user_id", "ts", "v")
    val left = Seq((101L, 1L, 5L), (102L, 1L, 15L))
      .toDF("event_id", "user_id", "ts")
    val out = AsOfJoin.asofJoin(left, right, Seq("user_id"), "ts", "v",
      inner = false).orderBy("event_id").collect()
    assert(out.length === 2)
    assert(out(0).isNullAt(3))
    assert(out(1).getDouble(3) === 100.0)
  }

  test("events asof query: drift = value - prior, matched rows only") {
    val rows = AsOfJoin.eventsAsOf(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.take(20).foreach { r =>
      val drift = BigDecimal(r.getDouble(2) - r.getDouble(3))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) === drift)
    }
  }
}

class CompactionSpec extends SparkSpec {
  test("writeCompacted sizes file count to the byte target") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val est = Compaction.estimatedBytes(li)
    assert(est > 0)

    val out = java.nio.file.Files.createTempDirectory("compact").toString
    // target a quarter of the estimate -> expect ~4 files
    val n = Compaction.writeCompacted(li, out, targetBytes = est / 4)
    assert(n >= 3 && n <= 5, s"expected ~4 partitions, got $n")
    val files = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files === n, "one parquet file per computed partition")

    // one-file target
    val out2 = java.nio.file.Files.createTempDirectory("compact2").toString
    assert(Compaction.writeCompacted(li, out2, targetBytes = est * 10) === 1)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("identical texts get identical minhash signatures; sigs in [0, P)") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"),
      (3L, "h i j k l m n")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("dd").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val sigs = Dedup.minhashSignatures(spark, tmp).collect()
    val s1 = sigs(0).toSeq.tail
    val s2 = sigs(1).toSeq.tail
    val s3 = sigs(2).toSeq.tail
    assert(s1 === s2, "identical docs -> identical signatures")
    assert(s1 !== s3, "different docs -> different signatures")
    s1.foreach { v =>
      val l = v.asInstanceOf[Long]
      assert(l >= 0 && l < graft.functions.SharedHash.P)
    }
  }

  test("minhash LSH finds exact duplicates with jaccard 1.0") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words appear in this other document here"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("dd").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.minhashPairs(spark, tmp).collect()
    assert(pairs.length === 1)
    assert(pairs(0).getLong(0) === 1L && pairs(0).getLong(1) === 2L)
    assert(pairs(0).getDouble(2) === 1.0)
  }

  test("connected components: transitive chains collapse to one cluster " +
      "(both the union-find and label-propagation paths)") {
    import spark.implicits._
    // chain 1-2-3 (transitive, 1-3 never paired) + island 5-6
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (5L, 6L, 1.0))
      .toDF("doc_a", "doc_b", "jaccard")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    for (threshold <- Seq(1000000L, 0L)) { // driver path, distributed path
      val cc = Dedup.connectedComponents(pairs, driverThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc === expected, s"threshold=$threshold")
    }
  }

  test("exact dedup keeps one doc per distinct text") {
    val groups = Dedup.exactGroups(spark, dir)
    val keep = Dedup.exactKeep(spark, dir)
    assert(groups.count() === keep.count())
    assert(groups.agg(sum("n_copies")).head().getLong(0) ===
      Tables.documents(spark, dir).count())
  }

  test("simhash of identical docs is identical; hamming 0") {
    val a = Dedup.simhashSignatures(spark, dir).limit(5).collect()
    assert(a.forall(r => r.getLong(1) >= 0))
  }

  test("banded simhash LSH reproduces the exact pairwise scan " +
      "(recall 1 by pigeonhole: hamming ≤ 2 < 4 bands)") {
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val maxId = 400L
    val exact = keyed(Dedup.simhashPairs(spark, dir, maxId).collect())
    val banded = keyed(Dedup.simhashLshPairs(spark, dir)
      .filter(col("doc_a") < maxId && col("doc_b") < maxId).collect())
    assert(banded === exact,
      s"banded (${banded.size}) must equal exact (${exact.size}) on the bounded range")
    assert(exact.nonEmpty, "fixture must actually produce near-dup pairs")
  }
}

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("curation drops exact dups, near-dup non-keepers, and low-quality docs") {
    val good = (1 to 60).map(i =>
      s"word$i " + (1 to 30).map(j => s"tok${(i * 7 + j) % 97}").mkString(" "))
    val docs = (
      good.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
        Seq((100L, good.head),        // exact dup of doc 0
          (101L, "short doc here"),   // fails MinTokens
          (102L, ("same " * 40).trim) // fails type-token ratio
        )).toDF("doc_id", "text")
    val curated = Corpus.curate(docs).collect()
    val ids = curated.map(_.getLong(0)).toSet
    assert(!ids.contains(100L), "exact dup dropped")
    assert(!ids.contains(101L), "short doc dropped")
    assert(!ids.contains(102L), "repetitive doc dropped")
    assert(ids.contains(0L), "keeper survives")
    assert(curated.forall(r => r.getInt(1) >= Corpus.MinTokens))
    assert(curated.forall(r => r.getDouble(2) >= Corpus.MinTypeTokenRatio))
  }
}

class CorpusOpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("packing manifest: bins start at 0 per source, totals conserved") {
    val docs = Tables.documents(spark, dir)
    val totalDocs = docs.count()
    val totalTokens = docs
      .select(sum(size(split(col("text"), " ")))).head().getLong(0)
    val bins = Corpus.packBins(spark, dir).collect()
    assert(bins.map(_.getLong(2)).sum === totalDocs, "every doc lands in a bin")
    assert(bins.map(_.getLong(3)).sum === totalTokens, "token mass conserved")
    bins.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val ids = rows.map(_.getInt(1)).sorted
      assert(ids.head === 0, s"$src bins start at 0")
      // bins are contiguous: a doc straddling a boundary can make the
      // *start-offset* skip a bin only if a single doc spans > budget
      assert(ids.distinct.length === ids.length, s"$src bins unique")
    }
  }

  test("contamination: planted train/eval overlap is detected, clean eval " +
      "docs score 0") {
    val rows = Corpus.contamination(spark, dir).collect()
    assert(rows.nonEmpty, "hash split must yield eval docs")
    rows.foreach { r =>
      val (nGrams, nHits, ratio) = (r.getInt(1), r.getLong(2), r.getDouble(3))
      assert(nGrams > 0)
      assert(nHits >= 0 && nHits <= nGrams)
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert(math.abs(ratio - (nHits.toDouble / nGrams)) < 1e-3)
    }
    // the synthetic corpus contains near-duplicates across the hash split,
    // so at least one eval doc must show overlap at this SF
    assert(rows.exists(_.getLong(2) > 0), "expected planted contamination")
  }

  test("mixture sampling honors per-source rates deterministically") {
    val out = Corpus.mixtureSample(spark, dir).collect()
    val rates = Corpus.MixtureRates.toMap
    out.foreach { r =>
      val rate = rates.getOrElse(r.getString(1), Corpus.MixtureDefaultRate)
      assert(r.getInt(2) < rate, s"bucket ${r.getInt(2)} must be < rate $rate")
    }
    val again = Corpus.mixtureSample(spark, dir).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq, "deterministic")
    val bySource = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val src0Total = Tables.documents(spark, dir)
      .filter(col("source") === "src0").count()
    assert(bySource.getOrElse("src0", 0) === src0Total, "rate 100 keeps all")
  }
}

class SimilaritySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("brute-force top-k: k rows per query, sim descending, no self") {
    val rows = Similarity.bruteForceTopK(spark, dir).collect()
    assert(rows.length === 25, "5 queries x k=5")
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val sims = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"sims sorted desc for q$qid")
      assert(rs.forall(_.getLong(2) != qid), "no self-match")
    }
  }

  test("LSH top-k recall vs exact baseline is nontrivial") {
    def keyset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = keyset(Similarity.bruteForceTopK(spark, dir).collect())
    val approx = keyset(Similarity.lshTopK(spark, dir).collect())
    val recall = (exact & approx).size.toDouble / exact.size
    // hyperplane LSH with 4 probes on random data: expect partial recall
    assert(recall > 0.2, s"LSH recall too low: $recall")
  }

  test("vec_dot (codegen) is bit-identical to the HOF fold") {
    graft.functions.VecDot.register(spark)
    val pairs = Tables.embeddings(spark, dir).limit(50)
      .withColumn("e", expr("cast(embedding AS ARRAY<DOUBLE>)"))
      .select(
        expr("vec_dot(e, e)").as("native"),
        expr(VectorOps.norm2Expr("e")).as("hof"))
      .collect()
    pairs.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("IVF top-k recall vs exact baseline beats the random-candidate rate") {
    def keyset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = keyset(Similarity.bruteForceTopK(spark, dir).collect())
    val approx = keyset(Similarity.ivfTopK(spark, dir).collect())
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.25, s"IVF recall (nprobe=4/16 cells): $recall")
  }

  test("multi-probe LSH recall dominates single-probe (probe set is a superset)") {
    def keyset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = keyset(Similarity.bruteForceTopK(spark, dir).collect())
    val single = keyset(Similarity.lshTopK(spark, dir).collect())
    val multi = keyset(Similarity.lshTopKMultiProbe(spark, dir).collect())
    val rs = (exact & single).size.toDouble / exact.size
    val rm = (exact & multi).size.toDouble / exact.size
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
    assert(rm > 0.2, s"multi-probe recall too low: $rm")
  }

  test("PQ+rerank top-k: exact-rerank scores, high recall, deterministic") {
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val exact = keyed(Similarity.bruteForceTopK(spark, dir).collect())
    val pq = keyed(Similarity.pqTopK(spark, dir).collect())
    // reranked scores are the exact cosine: every overlapping pair agrees
    pq.foreach { case (k, sim) =>
      exact.get(k).foreach(es => assert(es === sim, s"score drift at $k")) }
    val recall = pq.keySet.count(exact.contains).toDouble / exact.size
    // 50-candidate rerank out of 500 vectors: PQ ADC must place most true
    // neighbors inside the rerank window (measured 0.68 at sf0.001)
    assert(recall >= 0.5, s"PQ recall@5 (rerank=50): $recall")
    // determinism: second run identical (seeded codebooks, tie-broken ranks)
    assert(keyed(Similarity.pqTopK(spark, dir).collect()) === pq)
  }

  test("SQ8+rerank top-k: exact-rerank scores, high recall, deterministic; " +
      "filtered variant respects the label gate") {
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val exact = keyed(Similarity.bruteForceTopK(spark, dir).collect())
    val sq8 = keyed(Similarity.sq8TopK(spark, dir).collect())
    // reranked scores are the exact cosine: every overlapping pair agrees
    sq8.foreach { case (k, sim) =>
      exact.get(k).foreach(es => assert(es === sim, s"score drift at $k")) }
    // 8-bit/dim quantization barely moves cosine ranks: the 50-candidate
    // ADC shortlist should contain nearly all true top-5 neighbors
    val recall = sq8.keySet.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall@5 (rerank=50): $recall")
    assert(keyed(Similarity.sq8TopK(spark, dir).collect()) === sq8)

    // filtered: every (q, c) shares the query's label, and within-label
    // results equal the brute-force search restricted to that label
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val filt = Similarity.filteredTopK(spark, dir).collect()
    filt.foreach { r =>
      assert(emb(r.getLong(0)) === emb(r.getLong(2)),
        s"cross-label result: $r") }
    // the filtered shortlist can only shrink candidates, so any filtered
    // hit that IS same-label in the exact top-k keeps its exact score
    keyed(filt).foreach { case (k, sim) =>
      exact.get(k).foreach(es => assert(es === sim)) }
  }

  test("SQ8 codes are total int8 range and reconstruction stays in range") {
    val e = Similarity.embeddedOf(Tables.embeddings(spark, dir))
    val (mns, mxs) = Similarity.sq8Fit(e)
    assert(mns.length === 64 && mxs.length === 64)
    mns.indices.foreach(d => assert(mns(d) <= mxs(d)))
    val enc = Similarity.sq8Encoded(e, mns, mxs)
      .select(col("vec_id"), col("code")).collect()
    assert(enc.length === Tables.embeddings(spark, dir).count())
    enc.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length === 64)
      cs.foreach(c => assert(c >= 0 && c <= 255, s"code out of range: $c"))
    }
  }

  test("lsh bucket assignment is 16-bit, total, and deterministic") {
    val a = Similarity.lshBuckets(spark, dir).collect()
    assert(a.length === graft.ops.Tables.embeddings(spark, dir).count())
    a.foreach { r =>
      val b = r.getInt(1)
      assert(b >= 0 && b < (1 << Similarity.NumPlanes), s"bucket $b out of range")
    }
    val again = Similarity.lshBuckets(spark, dir).collect()
    assert(a.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("cosine dup pairs are symmetric-free and above threshold") {
    val rows = Similarity.cosineDupPairs(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.35)
    }
  }

  test("LSH-gated dup pairs are a subset of the exact scan with equal sims") {
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val maxId = 300L
    val exact = keyed(Similarity.cosineDupPairs(spark, dir, maxId).collect())
    val gated = keyed(Similarity.cosineDupLsh(spark, dir, BandGeometry.Legacy)
      .filter(col("id_a") < maxId && col("id_b") < maxId).collect())
    assert(gated.keySet.subsetOf(exact.keySet),
      "the band gate may drop pairs but must never invent them")
    gated.foreach { case (k, sim) => assert(sim === exact(k), s"sim mismatch at $k") }
    if (exact.nonEmpty) {
      val recall = gated.size.toDouble / exact.size
      assert(recall > 0.2, s"band-gate recall unexpectedly low: $recall")
    }
  }

  test("cosineDupLsh candidate budget: capped ⊆ exact band output with " +
      "equal sims, per-doc ≤ budget, deterministic") {
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = keyed(
      Similarity.cosineDupLsh(spark, dir, BandGeometry.Legacy).collect())
    val cap = 2
    val capped = keyed(Similarity.cosineDupLsh(spark, dir, BandGeometry.Legacy,
      maxCandidatesPerDoc = Some(cap)).collect())
    assert(capped.keySet.subsetOf(exact.keySet),
      "the budget may drop pairs but must never invent them")
    capped.foreach { case (k, sim) => assert(sim === exact(k), s"sim at $k") }
    // the budget caps CANDIDATES per id_a, so surviving pairs per id_a
    // can only be fewer
    capped.keySet.groupBy(_._1).foreach { case (a, ps) =>
      assert(ps.size <= cap, s"id_a=$a exceeds budget") }
    val again = keyed(Similarity.cosineDupLsh(spark, dir, BandGeometry.Legacy,
      maxCandidatesPerDoc = Some(cap)).collect())
    assert(again === capped, "capped run must be deterministic")
  }

  test("wide planes extend the default planes (shared seed prefix)") {
    assert(Similarity.widePlanes.length === Similarity.WideNumPlanes)
    Similarity.planes.zip(Similarity.widePlanes.take(Similarity.NumPlanes))
      .foreach { case (p, w) => assert(p.toSeq === w.toSeq,
        "first 16 wide planes must BE the default planes") }
  }

  test("wide-band dup pairs are a subset of the exact scan with equal " +
      "sims; domain restriction commutes; budget contract holds") {
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val maxId = 300L
    val exact = keyed(Similarity.cosineDupPairs(spark, dir, maxId).collect())
    val gated = keyed(Similarity.cosineDupLsh(spark, dir, BandGeometry.Wide)
      .filter(col("id_a") < maxId && col("id_b") < maxId).collect())
    assert(gated.keySet.subsetOf(exact.keySet),
      "wide bands may drop pairs but must never invent them")
    gated.foreach { case (k, sim) => assert(sim === exact(k), s"sim at $k") }
    // collision is a two-vector property: restricting BEFORE banding must
    // emit exactly the post-filtered pairs of the unrestricted run
    val restricted = keyed(
      Similarity.cosineDupLsh(spark, dir, BandGeometry.Wide,
        maxId = Some(maxId)).collect())
    assert(restricted === gated, "maxId must commute with the band gate")
    // the family's standard budget contract: capped ⊆ exact band output
    val capped = keyed(Similarity.cosineDupLsh(spark, dir, BandGeometry.Wide,
      maxCandidatesPerDoc = Some(1)).collect())
    val full = keyed(Similarity.cosineDupLsh(spark, dir, BandGeometry.Wide).collect())
    assert(capped.keySet.subsetOf(full.keySet))
    capped.keySet.groupBy(_._1).foreach { case (a, ps) =>
      assert(ps.size <= 1, s"id_a=$a exceeds budget") }
  }

  test("wide multiprobe pairs contain the wide pairs (probe superset) " +
      "and stay a subset of the exact scan with equal sims") {
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val maxId = 300L
    val exact = keyed(Similarity.cosineDupPairs(spark, dir, maxId).collect())
    val wide = keyed(
      Similarity.cosineDupLsh(spark, dir, BandGeometry.Wide,
        maxId = Some(maxId)).collect())
    val mp = keyed(Similarity.cosineDupLsh(spark, dir,
      BandGeometry.WideMultiProbe,
      maxId = Some(maxId)).collect())
    // hamming ≤ 1 gates a superset of hamming = 0, and both verify by the
    // same exact threshold — so mp's verified pairs must contain wide's
    assert(wide.keySet.subsetOf(mp.keySet),
      "multiprobe must dominate exact-key collision")
    assert(mp.keySet.subsetOf(exact.keySet),
      "probing may add candidates but never unverified pairs")
    mp.foreach { case (k, sim) => assert(sim === exact(k), s"sim at $k") }
  }

  test("embedding intake triage: verdicts vs a gate-free bipartite scan " +
      "(near ⊆ brute-near, counts bounded, novel sound, deterministic)") {
    import org.apache.spark.sql.functions.{expr => fexpr}
    val got = Similarity.cosineDupIntake(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // gate-free ground truth: the same residue split and threshold, but
    // EVERY delta×standing pair verified (no band gate) — at sf0.001 the
    // cross join is 500² rows, driver-trivial
    val h = graft.functions.SharedHash.spark48("cast(vec_id AS string)")
    val e = Tables.embeddings(spark, dir)
      .withColumn("e", fexpr("cast(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("is_inc", fexpr(s"pmod($h, 10) = 9"))
    graft.functions.VecDot.register(spark)
    val brute = e.filter(col("is_inc")).select(col("vec_id"), col("e").as("ea"))
      .crossJoin(e.filter(!col("is_inc")).select(col("e").as("eb")))
      .withColumn("sim", fexpr(
        "round(vec_dot(ea, eb) / (sqrt(vec_dot(ea, ea)) * sqrt(vec_dot(eb, eb))), 6)"))
      .filter(col("sim") >= 0.35)
      .groupBy("vec_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incIds = e.filter(col("is_inc")).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(got.keySet == incIds, "every delta vector must be triaged")
    got.foreach { case (id, (n, verdict)) =>
      assert(n <= brute.getOrElse(id, 0L),
        s"gated n_near can never exceed the gate-free count at $id")
      assert(verdict == (if (n > 0) "near" else "novel"))
      if (!brute.contains(id))
        assert(verdict == "novel", s"no true near-dup but 'near' at $id")
    }
    assert(got.exists(_._2._2 == "near"),
      "the duplicate-dense corpus should yield some near verdicts")
    val again = Similarity.cosineDupIntake(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(again === got, "intake must be deterministic")
  }
}

class TextMultimodalSpec extends SparkSpec {
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("repetition collapse drops consecutive duplicates only") {
    val docs = Seq(
      (1L, "batch batch batch stream stream spark batch"),
      (2L, "a a a a a"),
      (3L, "no repeats at all here")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("rc").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.collapseRepeats(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) === ((7, 4, "batch stream spark batch")),
      "non-adjacent repeats survive")
    assert(out(2L) === ((5, 1, "a")))
    assert(out(3L) === ((5, 5, "no repeats at all here")))
  }

  test("token stats: n_tokens matches manual split") {
    val row = TextAnalysis.tokenStats(spark, dir).limit(1).collect()(0)
    val text = Tables.documents(spark, dir)
      .filter(col("doc_id") === row.getLong(0))
      .select("text").head().getString(0)
    assert(row.getInt(1) === text.split(" ").length)
  }

  test("rolling hash matches direct computation and is codegen-stable") {
    val df = Seq((1L, "hello world")).toDF("doc_id", "text")
    graft.functions.RollingHash64.register(spark)
    val got = df.select(expr("rolling_hash64(text)")).head().getLong(0)
    val exp = graft.functions.RollingHashImpl.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world"))
    assert(got === exp)
  }

  test("langid predicts a language for every doc") {
    val rows = TextAnalysis.langId(spark, dir).collect()
    assert(rows.forall(r => Set("en", "es", "fr")(r.getString(2))))
  }

  test("hll rollup: merged per-source sketches estimate EXACTLY the direct " +
      "global sketch (max commutes)") {
    val rows = Sketches.hllRollup(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.keySet === Set("direct", "merged"))
    assert(rows("direct") === rows("merged"))
    assert(rows("direct") > 0)
  }

  test("token drift: single finite deterministic score over the full vocab") {
    val dir = "/root/testdata/sf0.001"
    val a = TextAnalysis.tokenDrift(spark, dir).head()
    val b = TextAnalysis.tokenDrift(spark, dir).head()
    assert(a === b, "sorted-fold determinism")
    assert(a.getInt(0) > 0)
    assert(!a.getDouble(1).isNaN && !a.getDouble(1).isInfinite)
  }

  test("oov rate: tokens outside the standing top-k vocab are counted, " +
      "fraction matches a driver recount") {
    val dir = "/root/testdata/sf0.001"
    val out = TextAnalysis.oovRate(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, oov, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(oov <= n && frac >= 0.0 && frac <= 1.0)
      assert(frac === BigDecimal(oov.toDouble / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("source dup matrix: pair totals reconcile with the raw pair graph") {
    val dir = "/root/testdata/sf0.001"
    val matrix = Dedup.sourceDupMatrix(spark, dir).collect()
    val totalFromMatrix = matrix.map(_.getLong(2)).sum
    val pairs = Dedup.minhashPairs(spark, dir).count()
    assert(totalFromMatrix === pairs, "every pair lands in exactly one cell")
    matrix.foreach(r => assert(r.getString(0) <= r.getString(1),
      "unordered pair normalization"))
  }

  test("substring span removal: duplicated 16-gram spans drop, the rest survives") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("spans").toString
    val shared = (1 to 16).map(i => s"dup$i").mkString(" ") // one exact 16-gram
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"$shared tail1 tail2"),
      (3L, "no duplicated content here at all")
    ).map { case (id, t) => (id, t, "s", t.length.toLong) }
    docs.toDF("doc_id", "text", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val out = Dedup.substringSpanRemoval(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) === ((20, 16, "alpha beta gamma delta")))
    assert(out(2L) === ((18, 16, "tail1 tail2")))
    assert(out(3L) === ((6, 0, "no duplicated content here at all")),
      "short doc (< 16 tokens) is untouched")
    // a doc that is ONLY the shared gram would empty out — total drop count
    assert(out.values.map(_._2).sum === 32)
  }

  test("policy keeper: the longest canonical variant wins, not the min id") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("policy").toString
    Seq(
      (1L, "hello world", "a", 11L),
      (2L, "Hello,  WORLD!!", "b", 15L), // same canonical form, longer raw
      (3L, "something else", "a", 14L)
    ).toDF("doc_id", "text", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val kept = Dedup.exactKeepByPolicy(spark, tmp).collect()
      .map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L), "doc 2 beats doc 1 on length despite min-id")
    // contrast: min-id exact keep retains both (texts differ byte-wise)
    assert(Dedup.exactKeep(spark, tmp).count() === 3)
  }

  test("gram matrix: upper-triangle micro sums match hand computation") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("gram").toString
    val e1 = Array.tabulate(64)(i => if (i == 0) 1f else if (i == 1) 2f else 0f)
    val e2 = Array.tabulate(64)(i => if (i == 0) 0.5f else 0f)
    Seq((1L, e1), (2L, e2)).toDF("vec_id", "embedding")
      .write.parquet(s"$tmp/embeddings.parquet")
    val out = EmbeddingStats.gramMatrix(spark, tmp).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out.size === 64 * 65 / 2, "upper triangle incl. diagonal")
    assert(out((0, 0)) === ((2L, 1250000L))) // 1*1 + 0.5*0.5 in micro
    assert(out((0, 1)) === ((2L, 2000000L))) // 1*2 + 0.5*0
    assert(out((1, 1)) === ((2L, 4000000L)))
    assert(out((2, 3)) === ((2L, 0L)))
  }

  test("repetition stats: dup-3gram and top-2gram fractions match hand counts") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("reps").toString
    Seq(
      (1L, "a b a b a b", 11L), // 3g: aba bab aba bab -> 4 total, 2 distinct
      (2L, "the quick brown fox", 19L) // no repeats
    ).toDF("doc_id", "text", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.repetitionStats(spark, tmp).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) === ((4, 0.5, 0.6)), "2g: 'a b'x3 of 5 -> 0.6")
    assert(out(2L) === ((2, 0.0, 0.3333)))
  }

  test("gopher rules: each rule flips on its adversarial fixture; admitted is the conjunction") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("gopher").toString
    def doc(words: Seq[String]) = words.mkString(" ")
    val clean = doc(Seq("the", "of") ++ (1 to 58).map(i => s"word$i"))
    val short = "the of tiny doc here"
    val symbolic = doc(Seq("the", "of") ++ Seq.fill(48)("####") ++
      Seq.fill(10)("world"))
    val loopy = doc(Seq("the", "of") ++
      Seq.fill(29)(Seq("abcd", "defg")).flatten)
    val longw = doc(Seq("the", "of") ++ (1 to 58).map(i => s"verylongword$i"))
    val digits = doc(Seq("the", "of") ++ (1 to 58).map(i => (100000 + i).toString))
    val ellipsis = doc(Seq("the", "of") ++ (1 to 57).map(i => s"word$i") :+ "wait...")
    val docs = Seq((1L, clean), (2L, short), (3L, symbolic), (4L, loopy),
      (5L, longw), (6L, digits), (7L, ellipsis))
    docs.map { case (id, t) => (id, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.gopherRules(spark, tmp).collect().map { r =>
      r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
        r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8))
    }.toMap
    // (word_count, mean_word_len, symbol_ratio, stopwords, alpha, dup2, admitted)
    assert(out(1L) === ((true, true, true, true, true, true, true)), "clean")
    assert(out(2L) === ((false, true, true, true, true, true, false)), "short")
    assert(out(3L) === ((true, true, false, true, false, false, false)),
      "48x'####' of 60 words: symbol ratio 3.2, alpha 12/60, dup2 runs")
    assert(out(4L) === ((true, true, true, true, true, false, false)),
      "abcd-defg bigram x29: dup2 55/59, every other rule green")
    assert(out(5L) === ((true, false, true, true, true, true, false)),
      "13-char words push mean length past 10")
    assert(out(6L) === ((true, true, true, true, false, true, false)),
      "digit tokens: alpha 2/60")
    assert(out(7L) === ((true, true, true, true, true, true, true)),
      "one '...' in 60 words is under the 0.1 symbol budget")
    // n_words surfaced for auditability
    val n = TextAnalysis.gopherRules(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(n(1L) === 60L && n(2L) === 5L)
  }

  test("bpe pre-token count: contractions, punctuation, digits, and spacing " +
      "segment like the GPT-2 pre-tokenizer") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe").toString
    val text = "I'll say don't, 123 times!"
    Seq((1L, text, text.length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val row = TextAnalysis.tokenStats(spark, tmp).head()
    // I | 'll | " say" | " don" | 't | , | " 123" | " times" | !
    assert(row.getAs[Int]("bpe_tokens") === 9)
    assert(row.getAs[Int]("n_tokens") === 5, "whitespace tokens")
  }

  test("multimodal: stub decode features are a normalized histogram") {
    val feats = Multimodal.extractFeatures(
      Multimodal.synthesizeAssets(spark, dir)).collect()
    assert(feats.nonEmpty)
    feats.take(10).foreach { f =>
      assert(f.features.length === 16)
      val sum = f.features.sum
      assert(math.abs(sum - 1.0f) < 1e-3, s"histogram sums to 1, got $sum")
    }
  }

  test("multimodal ANN: k neighbors per query asset, sim in [-1, 1]") {
    val rows = Multimodal.assetAnn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) => assert(rs.length <= 3) }
    rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
  }

  test("multimodal perceptual hash: 48-char keys, deterministic; dup " +
      "pairs equal a driver-side recompute of the probe rule + L1 verify") {
    val sig = Multimodal.phashSignatures(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sig.nonEmpty)
    sig.values.foreach { k =>
      assert(k.length === 48)
      assert(k.grouped(3).forall { s =>
        val v = s.toInt; v >= 0 && v <= 255 })
    }
    // driver-side recompute from the decoded features: candidates =
    // (levels equal) or (exactly one bin differs by exactly one level);
    // emit if L1 <= eps — the mmDupPairs contract restated independently
    val feats = Multimodal.extractFeatures(
        Multimodal.synthesizeAssets(spark, dir)).collect()
      .map(f => f.asset_id -> f.features.map(_.toDouble)).toMap
    def levels(f: Array[Double]) =
      f.map(x => math.min(255, math.floor(x * 256).toInt))
    val ids = feats.keys.toArray.sorted
    val expected = (for {
      i <- ids.iterator; j <- ids.iterator if i < j
      li = levels(feats(i)); lj = levels(feats(j))
      diffs = li.indices.filter(d => li(d) != lj(d))
      if diffs.isEmpty ||
        (diffs.length == 1 && math.abs(li(diffs.head) - lj(diffs.head)) == 1)
      l1 = li.indices.map(d => math.abs(feats(i)(d) - feats(j)(d))).sum
      if l1 <= Multimodal.MmDupL1Eps
    } yield (i, j)).toSet
    val got = Multimodal.mmDupPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected, s"got ${got.size} vs expected ${expected.size}")
    assert(got.nonEmpty, "near-dup corpus should surface phash pairs")
    // the bounded-domain knob must reach the documents scan as a pushed
    // predicate: it sits BELOW the mapPartitions decode, so the recall
    // report's 300-asset domain never decodes the whole corpus
    val plan = Multimodal.mmDupPairs(spark, dir, maxId = Some(300L))
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*LessThan\\(doc_id,300\\)".r
      .findFirstIn(plan).isDefined,
      "maxId must push into the documents scan")
  }

  test("mm pair candidate budget: capped ⊆ exact, per-doc bound holds, " +
      "deterministic; None keeps the oracled semantics") {
    def pairs(cap: Option[Int]) =
      Multimodal.mmDupPairs(spark, dir, maxCandidatesPerDoc = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(None)
    val capped = pairs(Some(2))
    assert(capped.subsetOf(exact), "capped output must be a subset")
    assert(capped.groupBy(_._1).values.forall(_.size <= 2),
      "per-doc emitted pairs must respect the candidate budget")
    assert(pairs(Some(2)) === capped, "budget selection must be deterministic")
    assert(pairs(Some(Int.MaxValue)) === exact,
      "a non-binding budget must change nothing")
  }

  test("mm pair candidate budget ranks exact-key matches ahead of " +
      "probe-only collisions, so a binding cap keeps the closer " +
      "candidates (r12 ADVICE)") {
    val sig = Multimodal.phashSignatures(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def pairs(cap: Option[Int]) =
      Multimodal.mmDupPairs(spark, dir, maxCandidatesPerDoc = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(None)
    val capped1 = pairs(Some(1)).groupBy(_._1)
    // independently recompute each id_a's exact-KEY candidates (identical
    // quantized signature — rank 1 under the documented survivor order);
    // under cap=1 the survivor must be the min such partner, emitted iff
    // it passes the L1 verify (membership in the uncapped output)
    val byA = exact.groupBy(_._1)
    val checked = byA.keys.toSeq.sorted.flatMap { a =>
      val exactKey = sig.collect {
        case (b, k) if b > a && k == sig(a) => b
      }
      if (exactKey.isEmpty) None
      else {
        val want = Set(a -> exactKey.min).intersect(byA(a))
        Some((a, want, capped1.getOrElse(a, Set.empty[(Long, Long)])))
      }
    }
    assert(checked.nonEmpty, "synthetic corpus must contain identical-" +
      "signature groups for this test to bite")
    checked.foreach { case (a, want, got) =>
      assert(got === want, s"asset $a: cap=1 must keep the exact-key " +
        s"partner, got $got want $want")
    }
    // the ranking must actually matter somewhere: at least one asset has
    // both an exact-key partner and a strictly smaller probe-only partner
    // (which the old id_b-ordered truncation would have kept instead)
    assert(checked.exists { case (a, _, _) =>
      val minExactKey = sig.collect {
        case (b, k) if b > a && k == sig(a) => b }.min
      byA(a).exists { case (_, b) => b < minExactKey && sig(b) != sig(a) }
    }, "no asset exercises the exact-vs-probe preference at this SF")
  }

  test("multimodal intake: verdicts equal a driver-side bipartite " +
      "recompute; indexed probe is byte-identical and the standing index " +
      "never rescans the corpus; appends decode the delta only") {
    import org.apache.spark.sql.functions.{col, lit}
    val (incA, exA) = Multimodal.mmDeltaSplit(
      Multimodal.synthesizeAssets(spark, dir))
    def featsOf(a: org.apache.spark.sql.Dataset[Asset]) =
      Multimodal.extractFeatures(a).collect()
        .map(f => f.asset_id -> f.features.map(_.toDouble)).toMap
    val incF = featsOf(incA); val exF = featsOf(exA)
    def levels(f: Array[Double]) =
      f.map(x => math.min(255, math.floor(x * 256).toInt))
    // the intake contract restated independently: candidate iff levels
    // equal or exactly one bin differs by exactly one; near iff L1 <= eps
    val expected = incF.keys.toSeq.sorted.map { i =>
      val li = levels(incF(i))
      val n = exF.count { case (_, fj) =>
        val lj = levels(fj)
        val diffs = li.indices.filter(d => li(d) != lj(d))
        val cand = diffs.isEmpty || (diffs.length == 1 &&
          math.abs(li(diffs.head) - lj(diffs.head)) == 1)
        cand && li.indices.map(d => math.abs(incF(i)(d) - fj(d))).sum <=
          Multimodal.MmDupL1Eps
      }
      (i, n.toLong, if (n > 0) "near" else "novel")
    }
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val got = keyed(Multimodal.mmDupIntake(spark, dir).collect())
    assert(got === expected)
    assert(got.nonEmpty, "the residue split must produce delta assets")
    val idx = keyed(Multimodal.mmDupIntakeIndexed(spark, dir).collect())
    assert(idx === got, "probing the phash index must lose nothing")
    // the resident accessor pins an RDD (no file lineage), so provenance
    // is asserted on the persisted artifact it pinned: the index parquet
    // only, never the corpus
    assert(graft.sources.IndexStore.standingPhashIndex(spark, dir)
      .count() > 0)
    val direct = graft.sources.IndexStore.readPhash(spark,
      graft.sources.IndexStore.phashRoot(spark, dir))
    assert(direct.inputFiles.nonEmpty)
    assert(!direct.inputFiles.exists(_.contains("documents.parquet")),
      "the standing corpus must never be rescanned through the index")
    // append decodes only the delta payloads it is given
    import spark.implicits._
    val deltaDir = java.nio.file.Files
      .createTempDirectory("phash-delta").toString
    Tables.documents(spark, dir).filter(col("doc_id") % 5 === 0)
      .write.mode("overwrite").parquet(deltaDir)
    val deltaAssets = spark.read.parquet(deltaDir)
      .select(col("doc_id").as("asset_id"),
        lit("application/octet-stream").as("mime"),
        col("n_chars").as("n_bytes"),
        col("text").cast("binary").as("content")).as[Asset]
    val root = java.nio.file.Files
      .createTempDirectory("phash-idx").toString + "/phash"
    graft.sources.IndexStore.buildPhash(exA, root)
    val appended = graft.sources.IndexStore.appendPhash(deltaAssets, root)
    assert(appended.inputFiles.nonEmpty &&
      appended.inputFiles.forall(_.contains(deltaDir)),
      "append must read the delta only")
  }

  test("multimodal: frame sampling keeps every 4th chunk") {
    val assets = Multimodal.synthesizeAssets(spark, dir)
    val sampled = Multimodal.frameSample(assets, chunkBytes = 64, stride = 4)
      .collect()
    val orig = assets.collect().map(a => a.asset_id -> a.n_bytes).toMap
    sampled.foreach { a =>
      assert(a.n_bytes <= orig(a.asset_id))
      assert(a.n_bytes === a.content.length.toLong)
    }
  }

  /** Real PNG bytes: a solid-color image encoded by the JDK's own writer. */
  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("multimodal: REAL ImageIO decode — dimensions and channel means of " +
      "solid-color PNGs are exact") {
    // pure red 8x6 and mid-gray 3x3, round-tripped through the PNG codec
    val red = Multimodal.decodeImage(pngBytes(8, 6, 0xff0000)).get
    assert(red(0) === 8f && red(1) === 6f)
    assert(red(2) === 255f && red(3) === 0f && red(4) === 0f)
    assert(math.abs(red(5) - 0.299 * 255) < 1e-3, "luminance of pure red")

    val gray = Multimodal.decodeImage(pngBytes(3, 3, 0x808080)).get
    assert(gray(0) === 3f && gray(1) === 3f)
    assert(gray(2) === 128f && gray(3) === 128f && gray(4) === 128f)
    // all 9 pixels land in one luminance bin → that histogram bin is 1.0
    assert(gray.drop(6).max === 1f && math.abs(gray.drop(6).sum - 1f) < 1e-6)
  }

  /** Real WAV bytes: 16-bit signed PCM samples framed by the JDK's own
    * RIFF/WAVE writer — the audio twin of [[pngBytes]]. */
  private def wavBytes(samples: Array[Short], sampleRate: Float = 8000f,
      channels: Int = 1): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, sampleRate,
      16, channels, 2 * channels, sampleRate, false)
    val raw = new Array[Byte](samples.length * 2)
    samples.indices.foreach { i =>
      raw(2 * i) = (samples(i) & 0xff).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
    }
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(raw),
      fmt, samples.length / channels)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("multimodal: REAL javax.sound WAV decode — format fields and " +
      "amplitude features of a synthesized square wave are exact") {
    // ±half-scale square wave, period 4: rms = meanAbs = peak = 0.5,
    // one sign flip every 2 frames → zero-cross fraction ~0.5
    val n = 800
    val sq = Array.tabulate[Short](n)(i =>
      if ((i / 2) % 2 == 0) 16384 else -16384)
    val f = Multimodal.decodeAudio(wavBytes(sq)).get
    assert(f(0) === 8000f && f(1) === 1f && f(2) === 16f && f(3) === n.toFloat)
    assert(math.abs(f(4) - n / 8000.0) < 1e-6, "duration seconds")
    assert(math.abs(f(5) - 0.5f) < 1e-4 && math.abs(f(7) - 0.5f) < 1e-4,
      "rms and meanAbs of a half-scale square wave")
    assert(math.abs(f(6) - 0.5f) < 1e-4, "peak")
    assert(math.abs(f(8) - 0.5f) < 2.0 / n, "zero-crossing fraction")
    // |a| = 0.5 lands every frame in bin floor(0.5*7) = 3
    assert(f(9 + 3) === 1f && math.abs(f.drop(9).sum - 1f) < 1e-6)

    // stereo: L = +A, R = -A mixes down to silence
    val st = Array.tabulate[Short](200)(i => if (i % 2 == 0) 12000 else -12000)
    val g = Multimodal.decodeAudio(wavBytes(st, channels = 2)).get
    assert(g(1) === 2f && g(3) === 100f)
    assert(g(5) === 0f && g(6) === 0f, "mixdown of inverted channels")
  }

  test("multimodal: extractFeatures dispatches image/* through the codec, " +
      "others (and corrupt images) through the stub") {
    import spark.implicits._
    val png = pngBytes(4, 2, 0x0000ff)
    val textBytes = "not an image".getBytes("UTF-8")
    val wav = wavBytes(Array.tabulate[Short](80)(i =>
      if ((i / 2) % 2 == 0) 16384 else -16384))
    val assets = Seq(
      Asset(1L, "image/png", png.length.toLong, png),
      Asset(2L, "application/octet-stream", textBytes.length.toLong, textBytes),
      Asset(3L, "image/png", textBytes.length.toLong, textBytes), // corrupt
      Asset(4L, "audio/wav", wav.length.toLong, wav),
      Asset(5L, "audio/wav", textBytes.length.toLong, textBytes), // corrupt
      Asset(6L, "video/mp4", textBytes.length.toLong, textBytes) // stubbed
    ).toDS()
    val out = Multimodal.extractFeatures(assets).collect()
      .map(f => f.asset_id -> f.features).toMap
    // real path: feature(0) = width, feature(4) = mean blue
    assert(out(1L)(0) === 4f && out(1L)(1) === 2f && out(1L)(4) === 255f)
    // stub path: normalized 16-bin histogram
    assert(math.abs(out(2L).sum - 1f) < 1e-3)
    // corrupt image/* degrades to the stub instead of failing the job
    assert(out(3L) === out(2L))
    // real audio path: sample rate + frame count from the codec
    assert(out(4L)(0) === 8000f && out(4L)(3) === 80f)
    // corrupt audio/* and video/* (no JDK codec) both take the stub
    assert(out(5L) === out(2L) && out(6L) === out(2L))
  }
}

class CollabEventsSpec extends SparkSpec {
  test("flagship entry frame: rows > 0 with actual + prediction columns") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.columns.toSet ===
      Set("user", "product", "rating", "prediction"))
    assert(df.count() > 0, "driver smoke-checks rows > 0")
  }

  test("ALS on events: finite rmse, all validation pairs scored") {
    val row = CollabEvents.alsRmse(spark, "/root/testdata/sf0.001").head()
    val rmse = row.getDouble(0)
    assert(!rmse.isNaN && rmse >= 0.0)
    assert(row.getLong(1) > row.getLong(2), "train larger than valid")
    assert(row.getLong(3) > 0, "some pairs scored")
    assert(row.getLong(3) <= row.getLong(2), "scored <= valid (cold-start drop)")
  }

  test("ALS top-N recommend: k ranked products per user, scores descending") {
    val dir = "/root/testdata/sf0.001"
    val k = 3
    val rows = CollabEvents.alsRecommend(spark, dir, k).collect()
    assert(rows.nonEmpty)
    val trainedProducts = CollabEvents.ratingsFromEvents(spark, dir)
      .select("product").distinct().collect().map(_.getInt(0)).toSet
    rows.groupBy(_.getLong(0)).foreach { case (user, rs) =>
      assert(rs.length === k, s"user $user should get exactly $k recs")
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq === (1 to k),
        s"ranks 1..$k for user $user")
      val scores = byRank.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"scores descending for user $user")
      rs.foreach(r => assert(trainedProducts.contains(r.getInt(2)),
        "recommended product must come from the trained catalog"))
    }
  }

  test("ALS train-once/score-from-saved: loaded factor matrices reproduce " +
      "the in-memory model's predictions bit for bit") {
    import graft.collab.{Scoring, Training}
    val dir = "/root/testdata/sf0.001"
    val ratings = CollabEvents.ratingsFromEvents(spark, dir).cache()
    val train = ratings.filter(pmod(col("event_id"), lit(10)) < 8)
      .select("user", "product", "rating")
    val valid = ratings.filter(pmod(col("event_id"), lit(10)) >= 8)
      .select("user", "product").distinct()
    val model = Training.train(train, maxIter = 2)
    val path = java.nio.file.Files.createTempDirectory("als-save").toString
    Training.save(model, path)
    def scoreMap(m: org.apache.spark.ml.recommendation.ALSModel) =
      Scoring.predict(m, valid).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(scoreMap(Training.load(path)) === scoreMap(model),
      "parquet factor round-trip must be exact")
    ratings.unpersist()

    // the harness query runs end to end off the standing saved model
    val q = CollabEvents.alsScoreFromSaved(spark, dir)
    assert(q.columns.toSeq === Seq("user", "product", "prediction"))
    assert(q.count() > 0)
    assert(CollabEvents.savedModelPath.isDefined,
      "query must stash its artifact root for the oracle")

    // query predictions ARE the saved factors' double left-fold dot:
    // recompute each from the artifact's parquet directly and compare
    // bit for bit (the vec_dot fold ≙ this ascending while-loop)
    val mp = CollabEvents.savedModelPath.get
    def factors(sub: String): Map[Int, Array[Double]] =
      spark.read.parquet(s"$mp/$sub").collect().map { r =>
        r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
      }.toMap
    val (ufs, pfs) = (factors("userFactors"), factors("itemFactors"))
    val denseByUserId = CollabEvents.ratingsFromEvents(spark, dir)
      .select(col("user_id"), col("user")).distinct().collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    q.collect().foreach { r =>
      val (u, p) = (ufs(denseByUserId(r.getLong(0))), pfs(r.getInt(1)))
      var acc = 0.0
      var i = 0
      while (i < u.length) { acc += u(i) * p(i); i += 1 }
      assert(java.lang.Double.doubleToLongBits(acc) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"prediction for row $r must equal the artifact dot $acc")
    }
  }

  test("ALS user-id compaction: 64-bit user ids beyond Int range train " +
      "and score (the raw int cast overflowed at the x10 scale replica)") {
    // same shape ScaleUp produces: a copy of the events table with user
    // ids offset past 2^31
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("als-wide").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    ev.withColumn("user_id", col("user_id") + lit(6000000000L))
      .write.parquet(s"$base/events.parquet")
    val row = CollabEvents.alsRmse(spark, base, maxIter = 2).head()
    assert(!row.getDouble(0).isNaN && row.getDouble(0) >= 0.0)
    assert(row.getLong(3) > 0, "wide-id pairs scored")
    // outputs carry the ORIGINAL 64-bit ids, not the dense fit ids
    val users = CollabEvents.ratingsFromEvents(spark, base)
      .select(max(col("user_id"))).head().getLong(0)
    assert(users > Int.MaxValue.toLong)
  }
}
