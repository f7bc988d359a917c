package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.ops.Tables
import graft.sources.IndexStore.WriteMode.{Append, Build}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {

  private def ev(id: Long, minute: Int, user: Long, typ: String, v: Double) =
    StreamEvent(id, new Timestamp(1700000000000L + minute * 60000L), user, typ, v)

  test("windowed counts with watermark emit finalized windows") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.windowedTypeCounts(input.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev(1, 0, 1, "click", 1.0), ev(2, 5, 1, "click", 2.0),
        ev(3, 7, 2, "view", 3.0))
      q.processAllAvailable()
      // advance event time far past watermark to close the first window
      input.addData(ev(4, 300, 1, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_type, n, total_value FROM win_counts ORDER BY event_type")
        .collect()
      assert(rows.map(_.getString(0)).toSeq === Seq("click", "view"))
      assert(rows(0).getLong(1) === 2)
      assert(rows(0).getDouble(2) === 3.0)
      assert(rows(1).getLong(1) === 1)
    } finally q.stop()
  }

  test("stateful sessionization closes sessions at the gap") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: two events 10 min apart (one session), then one 2 h later
      // (closes the first session within the same batch's sort)
      input.addData(ev(1, 0, 1, "click", 1.0), ev(2, 10, 1, "click", 2.0),
        ev(3, 130, 1, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM sessions").as[SessionSummary].collect()
      assert(rows.length === 1, "first session closed by the in-batch gap")
      assert(rows(0).n_events === 2)
      assert(rows(0).total_value === 3.0)
    } finally q.stop()
  }

  test("transformWithState anomaly detection keeps running state across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StreamingOps.requireRocksDb(spark)
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.anomalies(input.toDS(), factor = 3.0, warmup = 3)
      .writeStream.format("memory").queryName("anomalies")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: warm up the mean at ~10
      input.addData(ev(1, 0, 1, "m", 10.0), ev(2, 1, 1, "m", 10.0),
        ev(3, 2, 1, "m", 10.0))
      q.processAllAvailable()
      // batch 2: state must survive — 100 >> 3x mean(10) -> anomaly;
      // 11 is normal
      input.addData(ev(4, 3, 1, "m", 100.0), ev(5, 4, 1, "m", 11.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_id, is_anomaly, running_mean FROM anomalies ORDER BY event_id")
        .collect()
      assert(rows.length === 5)
      assert(rows.map(_.getBoolean(1)).toSeq ===
        Seq(false, false, false, true, false))
      assert(rows(3).getDouble(2) === 10.0, "mean from batch-1 state")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream join matches errors to in-window context") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val errs = MemoryStream[StreamEvent]
    val acts = MemoryStream[StreamEvent]
    val q = StreamingOps.errorContextJoin(errs.toDF(), acts.toDF(), 5)
      .writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append()).start()
    try {
      acts.addData(ev(10, 0, 1, "click", 1.0),  // 7 min before err -> out
        ev(11, 4, 1, "click", 2.0),             // 3 min before -> in
        ev(12, 6, 1, "view", 3.0),              // 1 min before -> in
        ev(13, 4, 2, "view", 9.0))              // other user -> out
      errs.addData(ev(20, 7, 1, "error", 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT err_id, ctx_id, ctx_value FROM ss_join ORDER BY ctx_id")
        .collect()
      assert(rows.map(_.getLong(1)).toSeq === Seq(11L, 12L))
      assert(rows.forall(_.getLong(0) === 20L))
    } finally q.stop()
  }

  test("streaming windowed counts equal the batch twin on real events") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val events = graft.ops.Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", expr("timestamp_micros(ts div 1000)").as("ts"),
        $"user_id", $"event_type", $"value")
    val rows = events.as[StreamEvent].collect()
    val maxTs = rows.map(_.ts.getTime).max

    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.windowedTypeCounts(input.toDF(), "1 hour")
      .writeStream.format("memory").queryName("bs_parity")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      // sentinel far past the horizon flushes every real window
      input.addData(StreamEvent(-1L, new Timestamp(maxTs + 7L * 86400000L),
        0L, "sentinel", 0.0))
      q.processAllAvailable()

      val streamed = spark.sql(
        """SELECT window.start AS w, event_type, n, total_value
          |FROM bs_parity WHERE event_type <> 'sentinel'""".stripMargin)
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet

      val batch = events
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), sum($"value").as("total_value"))
        .select($"window.start", $"event_type", $"n", $"total_value")
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet

      assert(streamed === batch,
        s"stream/batch divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    } finally q.stop()
  }

  test("source quota gate: per-source admission cap holds ACROSS " +
      "micro-batches, seq stays contiguous, overflow drops at intake") {
    implicit val sql = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.sourceQuota(
        input.toDS(), cap = 4)
      .writeStream.format("memory").queryName("quota_stream")
      .outputMode(OutputMode.Append()).start()
    def admitted() = spark.sql("SELECT doc_id, source, seq FROM quota_stream")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    try {
      // batch 1: srcA over quota in one batch, srcB under
      input.addData((1 to 6).map(i => (i.toLong, "srcA")) ++
        Seq((101L, "srcB"), (102L, "srcB")): _*)
      q.processAllAvailable()
      val b1 = admitted()
      assert(b1.count(_._2 == "srcA") === 4, "srcA capped in-batch")
      assert(b1.filter(_._2 == "srcA").map(_._1).sorted.toSeq ===
        Seq(1L, 2L, 3L, 4L), "doc_id order breaks in-batch ties")
      assert(b1.count(_._2 == "srcB") === 2)

      // batch 2: srcA already full (all dropped); srcB admits up to quota
      input.addData(Seq((7L, "srcA"), (103L, "srcB"), (104L, "srcB"),
        (105L, "srcB")): _*)
      q.processAllAvailable()
      val b2 = admitted()
      assert(b2.count(_._2 == "srcA") === 4,
        "quota state persists across batches — srcA admits nothing more")
      assert(b2.count(_._2 == "srcB") === 4, "srcB fills to the cap")
      assert(b2.filter(_._2 == "srcB").map(_._3).sorted.toSeq ===
        Seq(1L, 2L, 3L, 4L), "seq contiguous across batches")
    } finally q.stop()
  }

  test("mixture sampling: the same stateless transform on a stream " +
      "equals the batch output") {
    implicit val sql = spark.sqlContext
    import spark.implicits._

    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source")
    case class Doc(doc_id: Long, source: String)
    val rows = docs.as[(Long, String)].collect()

    val input = MemoryStream[(Long, String)]
    val q = graft.ops.Corpus.mixtureFilter(
        input.toDF().toDF("doc_id", "source"))
      .writeStream.format("memory").queryName("mix_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, source, bucket FROM mix_stream")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val batch = graft.ops.Corpus.mixtureFilter(docs)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("BPE encode: an offline-fitted merge table applied on the stream " +
      "equals the batch projection (streaming tokenizer-apply path)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._

    val dir = "/root/testdata/sf0.001"
    val merges = graft.ops.Bpe.fit(spark, dir) // tokenizer fitted offline
    val docs = graft.ops.Tables.documents(spark, dir)
      .select($"doc_id", $"text")
    val rows = docs.as[(Long, String)].collect()

    val input = MemoryStream[(Long, String)]
    val q = graft.ops.Bpe.encodeSymbolsOf(
        input.toDF().toDF("doc_id", "text"), merges)
      .writeStream.format("memory").queryName("bpe_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, word, n_sym FROM bpe_stream")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList.sorted
      val batch = graft.ops.Bpe.encodeSymbolsOf(docs, merges)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList.sorted
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("chunking: the same stateless transform on a stream equals the " +
      "batch output (streaming ingestion → chunk → embed path)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, dir)
      .select($"doc_id", $"text")
    val rows = docs.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.TextAnalysis.chunkOf(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT doc_id, chunk_idx, n_tokens, chunk_text FROM chunk_stream")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
      val batch = graft.ops.TextAnalysis.chunk(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("curation front door: stream ≡ batch on the real corpus; case/punct " +
      "variants triage as duplicates, novel PII docs are redacted not dropped") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val standing = graft.ops.Tables.documents(spark, dir)
    // incoming: 30 real docs (all dups of standing), one case/punctuation
    // variant of a standing doc (dup after canonicalization), one novel
    // doc carrying PII (redacted, not a dup)
    val base = standing.select($"doc_id", $"text").as[(Long, String)]
      .collect().take(30)
    val firstText = base.head._2
    val incoming = (base :+
      (9001L, firstText.toUpperCase + "!!") :+
      (9002L, "novel document; reach me at a@b.example.com")).toIndexedSeq

    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.curationFrontDoor(
        input.toDF().toDF("doc_id", "text"), standing)
      .writeStream.format("memory").queryName("front_door")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT doc_id, red_text, n_term_hits, is_dup FROM front_door")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getBoolean(3)))
        .toSet
      val batch = StreamingOps.curationFrontDoor(
          incoming.toDF("doc_id", "text"), standing)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getBoolean(3)))
        .toSet
      assert(streamed === batch)
      val byId = streamed.map(t => t._1 -> t).toMap
      assert(byId(9001L)._4, "case/punct variant must triage as dup")
      assert(!byId(9002L)._4, "novel doc is not a dup")
      assert(byId(9002L)._2.contains("[EMAIL]"), "incoming text is redacted")
      base.foreach { case (id, _) => assert(byId(id)._4, s"doc $id is a dup") }
    } finally q.stop()
  }

  test("curation front door over the PERSISTED digest index: stream output " +
      "equals the recompute form; an appended batch flips novel -> dup " +
      "without rescanning the standing corpus") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.IndexStore
    val dir = "/root/testdata/sf0.001"
    val standing = graft.ops.Tables.documents(spark, dir)
    val idx = java.nio.file.Files
      .createTempDirectory("curation-idx").toString + "/fp"
    IndexStore.writeCurationDigests(standing, idx, Build)

    val novelText = "a document the corpus has never seen"
    val incoming = Seq(
      standing.select($"doc_id", $"text").as[(Long, String)].head(),
      (9100L, novelText))

    def run(): Map[Long, Boolean] = {
      val input = MemoryStream[(Long, String)]
      val q = StreamingOps.curationFrontDoorWithDigests(
          input.toDF().toDF("doc_id", "text"),
          IndexStore.readCurationDigests(spark, idx))
        .writeStream.format("memory").queryName("front_door_idx")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(incoming: _*)
        q.processAllAvailable()
        spark.sql("SELECT doc_id, is_dup FROM front_door_idx").collect()
          .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      } finally q.stop()
    }

    val first = run()
    assert(first(incoming.head._1), "standing doc triages as dup")
    assert(!first(9100L), "unseen doc is novel")
    // indexed stream ≡ the recompute-in-query batch form
    val batch = StreamingOps.curationFrontDoor(
        incoming.toDF("doc_id", "text"), standing)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(first === batch)

    // accept the novel doc: append ONLY its digest to the index
    val deltaDir = java.nio.file.Files
      .createTempDirectory("curation-delta").toString + "/batch"
    Seq((9100L, novelText)).toDF("doc_id", "text")
      .write.parquet(deltaDir)
    val appended = IndexStore.writeCurationDigests(
      spark.read.parquet(deltaDir), idx, Append)
    assert(appended.inputFiles.forall(_.contains(deltaDir)),
      "append reads only the delta batch")
    // the same stream now triages the formerly-novel doc as a duplicate
    assert(run()(9100L), "appended digest flips novel -> dup")
  }

  test("self-maintaining intake sink: batch N+1 dedups against batch N's " +
      "accepted docs via the index append inside the loop") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.IndexStore
    val dir = "/root/testdata/sf0.001"
    val standing = graft.ops.Tables.documents(spark, dir)
    val base = java.nio.file.Files.createTempDirectory("intake").toString
    val idx = s"$base/idx"
    val accepted = s"$base/accepted"
    IndexStore.writeCurationDigests(standing, idx, Build)

    val standingDoc = standing.select($"doc_id", $"text")
      .as[(Long, String)].head()
    val novelA = "first genuinely new document in the stream"
    val novelB = "second genuinely new document arriving later"

    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.intakeSink(
        input.toDF().toDF("doc_id", "text"), idx, accepted)(
        s"$base/ckpt")
    try {
      // batch 1: one standing dup + novel A
      input.addData((9200L, standingDoc._2), (9201L, novelA))
      q.processAllAvailable()
      // batch 2: A again under a new id (must now be a dup) + novel B
      input.addData((9202L, novelA), (9203L, novelB))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(accepted)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got === Set(9201L, 9203L),
      "batch-2 repeat of A rejected by the appended digest; dup of standing rejected")
  }

  test("intake sink across a stop/restart: accepted set has no duplicates " +
      "and keeps growing from the checkpoint") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.IndexStore
    val dir = "/root/testdata/sf0.001"
    val standing = graft.ops.Tables.documents(spark, dir)
    val base = java.nio.file.Files.createTempDirectory("intake-rs").toString
    val idx = s"$base/idx"
    IndexStore.writeCurationDigests(standing, idx, Build)
    val input = MemoryStream[(Long, String)]
    def start() = StreamingOps.intakeSink(
      input.toDF().toDF("doc_id", "text"), idx, s"$base/accepted")(
      s"$base/ckpt")

    val q1 = start()
    try {
      input.addData((9400L, "novel doc accepted before the restart"))
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = start()
    try {
      // replay-adjacent batch: the SAME text again plus a new novel doc
      input.addData((9401L, "novel doc accepted before the restart"),
        (9402L, "novel doc arriving after the restart"))
      q2.processAllAvailable()
    } finally q2.stop()

    val got = spark.read.parquet(s"$base/accepted")
      .select($"doc_id").as[Long].collect().sorted
    assert(got.toSeq === Seq(9400L, 9402L),
      "pre-restart accept persists; its repeat is rejected; new novel lands")
    assert(got.length === got.distinct.length)
  }

  test("intake batch crash-replay is exactly-once: re-running a completed " +
      "batch id rewrites the same accepted set, no duplicates, no losses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.IndexStore
    val standing = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val base = java.nio.file.Files.createTempDirectory("intake-replay").toString
    val idx = s"$base/idx"
    val accepted = s"$base/accepted"
    IndexStore.writeCurationDigests(standing, idx, Build)

    val batch = Seq((9500L, "novel doc whose batch will be replayed"),
      (9501L, "second novel doc in the replayed batch")).toDF("doc_id", "text")
    StreamingOps.intakeBatch(batch, 1L, idx, accepted)
    val once = spark.read.parquet(accepted).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    // worst-case replay: the batch FULLY completed (digests landed), then
    // the checkpoint commit was lost and the batch re-runs. The old
    // append-ordering design either duplicated or dropped the docs here.
    StreamingOps.intakeBatch(batch, 1L, idx, accepted)
    val twice = spark.read.parquet(accepted).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(once === Seq(9500L, 9501L))
    assert(twice === once, "replay rewrites the same accepted set")
    // and the next batch still dedups against the replayed batch's digests
    StreamingOps.intakeBatch(
      Seq((9502L, "novel doc whose batch will be replayed")).toDF("doc_id", "text"),
      2L, idx, accepted)
    val after = spark.read.parquet(accepted).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after === Seq(9500L, 9501L), "batch-2 repeat rejected by b=1 segment")
  }

  test("triage batch crash-replay is exactly-once: verdicts do not flip " +
      "and the verdict table is not re-appended") {
    import spark.implicits._
    import graft.sources.IndexStore
    val standing = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val base = java.nio.file.Files.createTempDirectory("triage-replay").toString
    val idx = s"$base/idx"
    val verdicts = s"$base/verdicts"
    IndexStore.writeDedup(standing, idx, Build)

    val novel = (1 to 40).map(i => s"rtok$i").mkString(" ")
    val batch = Seq((9600L, novel)).toDF("doc_id", "text")
    StreamingOps.triageBatch(batch, 1L, idx, verdicts)
    // full-completion replay: the b=1 index segments HAVE landed; the old
    // design would re-read them and flip this doc's verdict novel -> exact
    StreamingOps.triageBatch(batch, 1L, idx, verdicts)
    val got = spark.read.parquet(verdicts)
      .select($"doc_id", $"verdict").as[(Long, String)].collect().toSeq
    assert(got === Seq((9600L, "novel")),
      "one verdict row, still novel after replay")
    // the NEXT batch does see b=1 and catches the duplicate
    StreamingOps.triageBatch(Seq((9601L, novel)).toDF("doc_id", "text"),
      2L, idx, verdicts)
    val v2 = spark.read.parquet(verdicts)
      .select($"doc_id", $"verdict").as[(Long, String)].collect().toMap
    assert(v2(9601L) === "exact")
  }

  test("streaming prefix intake: exact-recall cross-batch pairs, crash-" +
      "replay rewrites identical pairs, frozen dictionary untouched") {
    import spark.implicits._
    import graft.sources.IndexStore
    val base = java.nio.file.Files.createTempDirectory("pfx-stream").toString
    val idx = s"$base/idx"
    val pairsPath = s"$base/pairs"
    def toks(p: String, n: Int = 40) = (1 to n).map(i => s"$p$i")
    val t1 = toks("ptok").mkString(" ")
    val t2 = (toks("ptok").dropRight(2) ++ Seq("chgA", "chgB")).mkString(" ")
    val t3 = toks("qtok").mkString(" ")
    val t4 = (toks("qtok").dropRight(2) ++ Seq("chgC", "chgD")).mkString(" ")
    IndexStore.buildPrefix(
      Seq((100L, t1), (101L, toks("ztok").mkString(" "))).toDF("doc_id", "text"),
      idx)
    val freqBefore = spark.read.parquet(s"$idx/freq").count()

    val batch1 = Seq((200L, t2), (201L, t3)).toDF("doc_id", "text")
    StreamingOps.prefixIntakeBatch(batch1, 1L, idx, pairsPath)
    def pairs = spark.read.parquet(pairsPath)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(pairs === Seq((100L, 200L)), "standing near-dup found, novel not")
    // full-completion crash replay: b=1 segments HAVE landed; the probe
    // must not see them (else 201 would pair with itself via sets) and the
    // pair write must overwrite, not duplicate
    StreamingOps.prefixIntakeBatch(batch1, 1L, idx, pairsPath)
    assert(pairs === Seq((100L, 200L)), "replay rewrote identical pairs")
    // batch 2's near-dup of batch 1's NOVEL doc: caught via the b=1
    // segments — the in-loop append is what makes recall cross-batch
    StreamingOps.prefixIntakeBatch(Seq((300L, t4)).toDF("doc_id", "text"),
      2L, idx, pairsPath)
    assert(pairs === Seq((100L, 200L), (201L, 300L)))
    // batches never rewrite the frozen dictionary
    assert(spark.read.parquet(s"$idx/freq").count() === freqBefore)
  }


  test("streaming prefix intake sink: two micro-batches on a stream write " +
      "the pairs and index segments the direct batch calls write") {
    import spark.implicits._
    import graft.sources.IndexStore
    val base = java.nio.file.Files.createTempDirectory("pfx-sink").toString
    def toks(p: String) = (1 to 40).map(i => s"$p$i")
    val standing = Seq((100L, toks("ptok").mkString(" ")),
      (101L, toks("ztok").mkString(" "))).toDF("doc_id", "text")
    val b1 = Seq(
      (200L, (toks("ptok").dropRight(2) ++ Seq("chgA", "chgB")).mkString(" ")),
      (201L, toks("qtok").mkString(" "))).toDF("doc_id", "text")
    val b2 = Seq(
      (300L, (toks("qtok").dropRight(2) ++ Seq("chgC", "chgD")).mkString(" ")))
      .toDF("doc_id", "text")
    Seq("stream", "direct").foreach(a =>
      IndexStore.buildPrefix(standing, s"$base/$a/idx"))
    runSink(b1, b2)(StreamingOps.prefixIntakeSink(_, s"$base/stream/idx",
      s"$base/stream/pairs")(s"$base/ckpt"))
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      StreamingOps.prefixIntakeBatch(b, i.toLong, s"$base/direct/idx",
        s"$base/direct/pairs")
    }
    assert(rowsUnder(s"$base/stream/pairs").size === 2)
    assert(rowsUnder(s"$base/stream/pairs") ===
      rowsUnder(s"$base/direct/pairs"))
    def sets(a: String) = IndexStore.readPrefix(spark, s"$base/$a/idx",
      Some(2L)).sets.collect().map(_.toString).sorted.toSeq
    assert(sets("stream") === sets("direct"))
  }

  test("streaming ANN intake: incoming vectors probe the standing index, " +
      "cross-batch recall via in-loop appends, crash-replay idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    val base = java.nio.file.Files.createTempDirectory("ann-stream").toString
    val idx = s"$base/idx"
    val nbrs = s"$base/nbrs"
    val emb = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    IndexStore.buildAnn(emb.filter($"vec_id" < 300), idx)

    val b1 = emb.filter($"vec_id" >= 300 && $"vec_id" < 320)
    StreamingOps.annIntakeBatch(b1.toDF(), 1L, idx, nbrs)
    def nbrRows(b: Long) = spark.read.parquet(s"$nbrs/b=$b")
      .select($"q_id", $"rnk", $"c_id", $"sim").collect()
    val n1 = nbrRows(1L)
    assert(n1.map(_.getLong(0)).distinct.length === 20)
    assert(n1.forall(r => r.getLong(2) < 300),
      "batch 1 probes only the standing corpus (its own segment is b=1)")
    // full-completion crash replay: segments landed, but the probe reads
    // b < 1 only and both writes overwrite — identical bytes, no growth
    StreamingOps.annIntakeBatch(b1.toDF(), 1L, idx, nbrs)
    assert(nbrRows(1L).map(_.toString).sorted.toSeq ===
      n1.map(_.toString).sorted.toSeq)
    assert(IndexStore.readAnn(spark, idx, Some(2L)).cells.count() === 320)

    // batch 2 = exact copies of batch 1's vectors under new ids: the twin
    // appended by batch 1 must surface at cosine 1.0 — cross-batch recall
    // exists only because appends happen inside the micro-batch
    val b2 = b1.select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    StreamingOps.annIntakeBatch(b2.toDF(), 2L, idx, nbrs)
    val byQ = nbrRows(2L).groupBy(_.getLong(0))
    assert(byQ.size === 20)
    byQ.foreach { case (q, rows) =>
      assert(rows.exists(r => r.getLong(2) === q - 1000L &&
        r.getDouble(3) === 1.0), s"twin of $q not found at sim 1.0")
    }
    // the PQ code segments follow the same versioned lifecycle
    assert(IndexStore.readAnn(spark, idx, Some(3L)).codes
      .count() === 340)
  }


  test("streaming ANN intake sink: two micro-batches on a stream write the " +
      "neighbors and index segments the direct batch calls write") {
    import spark.implicits._
    import graft.sources.IndexStore
    val base = java.nio.file.Files.createTempDirectory("ann-sink").toString
    val emb = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Seq("stream", "direct").foreach(a =>
      IndexStore.buildAnn(emb.filter($"vec_id" < 300), s"$base/$a/idx"))
    val b1 = emb.filter($"vec_id" >= 300 && $"vec_id" < 320)
    val b2 = b1.withColumn("vec_id", $"vec_id" + 1000L)
    runSink(b1, b2)(StreamingOps.annIntakeSink(_, s"$base/stream/idx",
      s"$base/stream/nbrs")(s"$base/ckpt"))
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      StreamingOps.annIntakeBatch(b, i.toLong, s"$base/direct/idx",
        s"$base/direct/nbrs")
    }
    assert(rowsUnder(s"$base/stream/nbrs").nonEmpty)
    assert(rowsUnder(s"$base/stream/nbrs") === rowsUnder(s"$base/direct/nbrs"))
    def cells(a: String) = IndexStore.readAnn(spark, s"$base/$a/idx",
      Some(2L)).cells.collect().map(_.toString).sorted.toSeq
    assert(cells("stream").size === 340)
    assert(cells("stream") === cells("direct"))
  }

  test("streaming embedding near-dup intake: batch vectors triage against " +
      "the signature index, cross-batch near-dups caught, replay " +
      "idempotent, stream ≡ batch operator on the same split") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("sig-stream").toString
    val idx = s"$base/idx"
    val verdicts = s"$base/verdicts"
    val emb = graft.ops.Tables.embeddings(spark, dir)
    // standing = the batch operators' residue split, so the stream's
    // batch-1 verdicts must equal emb_dup_intake row-for-row
    val (inc, ex) = graft.ops.Similarity.embDeltaSplit(emb)
    IndexStore.writeSig(ex, idx, Build)

    StreamingOps.sigIntakeBatch(inc.toDF(), 1L, idx, verdicts)
    def vRows(b: Long) = spark.read.parquet(s"$verdicts/b=$b")
      .select($"vec_id", $"n_near", $"verdict").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val v1 = vRows(1L)
    val batchOp = graft.ops.Similarity.cosineDupIntake(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(v1 === batchOp, "stream batch 1 must equal the batch operator")
    // crash replay: probe reads segments < 1 only, writes overwrite
    StreamingOps.sigIntakeBatch(inc.toDF(), 1L, idx, verdicts)
    assert(vRows(1L) === v1)
    // batch 2 = exact copies of batch 1's vectors under new ids: identical
    // sign patterns collide in every band and verify at cosine 1.0 — every
    // verdict must be 'near', possible only because batch 1's signatures
    // appended inside the loop
    val b2 = inc.select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    StreamingOps.sigIntakeBatch(b2.toDF(), 2L, idx, verdicts)
    val v2 = vRows(2L)
    assert(v2.nonEmpty && v2.forall(_._3 == "near"),
      "an exact copy of an indexed vector must triage as near")
    assert(IndexStore.readSig(spark, idx, Some(3L)).count() ===
      ex.count() + 2 * inc.count())
  }


  test("streaming embedding near-dup intake sink: two micro-batches on a " +
      "stream write the verdicts and signatures the direct batch calls " +
      "write") {
    import spark.implicits._
    import graft.sources.IndexStore
    val base = java.nio.file.Files.createTempDirectory("sig-sink").toString
    val emb = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (inc, ex) = graft.ops.Similarity.embDeltaSplit(emb)
    Seq("stream", "direct").foreach(a =>
      IndexStore.writeSig(ex, s"$base/$a/idx", Build))
    val b2 = inc.withColumn("vec_id", $"vec_id" + 10000L)
    runSink(inc, b2)(StreamingOps.sigIntakeSink(_, s"$base/stream/idx",
      s"$base/stream/verdicts")(s"$base/ckpt"))
    Seq(inc, b2).zipWithIndex.foreach { case (b, i) =>
      StreamingOps.sigIntakeBatch(b, i.toLong, s"$base/direct/idx",
        s"$base/direct/verdicts")
    }
    assert(rowsUnder(s"$base/stream/verdicts").nonEmpty)
    assert(rowsUnder(s"$base/stream/verdicts") ===
      rowsUnder(s"$base/direct/verdicts"))
    def sigs(a: String) = IndexStore.readSig(spark, s"$base/$a/idx", Some(2L))
      .collect().map(_.toString).sorted.toSeq
    assert(sigs("stream") === sigs("direct"))
  }

  test("streaming multimodal intake: asset batches triage against the " +
      "phash index, cross-batch dups caught, replay idempotent, " +
      "stream ≡ batch operator on the same split") {
    import spark.implicits._
    import graft.sources.IndexStore
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("phash-stream").toString
    val idx = s"$base/idx"
    val verdicts = s"$base/verdicts"
    // standing = the batch operators' residue split, so the stream's
    // batch-1 verdicts must equal mm_dup_intake row-for-row
    val (inc, ex) = graft.ops.Multimodal.mmDeltaSplit(
      graft.ops.Multimodal.synthesizeAssets(spark, dir))
    IndexStore.writePhash(ex, idx, Build)

    StreamingOps.phashIntakeBatch(inc.toDF(), 1L, idx, verdicts)
    def vRows(b: Long) = spark.read.parquet(s"$verdicts/b=$b")
      .select($"asset_id", $"n_near", $"verdict").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val v1 = vRows(1L)
    val batchOp = graft.ops.Multimodal.mmDupIntake(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(v1 === batchOp, "stream batch 1 must equal the batch operator")
    // crash replay: probe reads segments < 1 only, writes overwrite
    StreamingOps.phashIntakeBatch(inc.toDF(), 1L, idx, verdicts)
    assert(vRows(1L) === v1)
    // batch 2 = exact byte copies of batch 1's assets under new ids:
    // identical payloads quantize to the same key and verify at L1 = 0 —
    // every verdict must be 'near', possible only because batch 1's
    // signatures appended inside the loop
    val b2 = inc.map(a => a.copy(asset_id = a.asset_id + 100000L))
    StreamingOps.phashIntakeBatch(b2.toDF(), 2L, idx, verdicts)
    val v2 = vRows(2L)
    assert(v2.nonEmpty && v2.forall(_._3 == "near"),
      "an exact copy of an indexed asset must triage as near")
    assert(IndexStore.readPhash(spark, idx, Some(3L)).count() ===
      ex.count() + 2 * inc.count())
  }


  test("streaming multimodal intake sink: two micro-batches on a stream " +
      "write the verdicts and signatures the direct batch calls write") {
    import spark.implicits._
    import graft.sources.IndexStore
    val base = java.nio.file.Files.createTempDirectory("phash-sink").toString
    val (inc, ex) = graft.ops.Multimodal.mmDeltaSplit(
      graft.ops.Multimodal.synthesizeAssets(spark, "/root/testdata/sf0.001"))
    Seq("stream", "direct").foreach(a =>
      IndexStore.writePhash(ex, s"$base/$a/idx", Build))
    val b1 = inc.toDF()
    val b2 = inc.map(a => a.copy(asset_id = a.asset_id + 100000L)).toDF()
    runSink(b1, b2)(StreamingOps.phashIntakeSink(_, s"$base/stream/idx",
      s"$base/stream/verdicts")(s"$base/ckpt"))
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      StreamingOps.phashIntakeBatch(b, i.toLong, s"$base/direct/idx",
        s"$base/direct/verdicts")
    }
    assert(rowsUnder(s"$base/stream/verdicts").nonEmpty)
    assert(rowsUnder(s"$base/stream/verdicts") ===
      rowsUnder(s"$base/direct/verdicts"))
    def sigs(a: String) = IndexStore.readPhash(spark, s"$base/$a/idx",
      Some(2L)).collect().map(_.toString).sorted.toSeq
    assert(sigs("stream") === sigs("direct"))
  }

  test("streaming audio intake: WAV batches triage against the audio " +
      "signature index, cross-batch dups caught, replay idempotent, " +
      "stream ≡ batch operator on the same split") {
    import spark.implicits._
    import graft.sources.IndexStore
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("audio-stream").toString
    val idx = s"$base/idx"
    val verdicts = s"$base/verdicts"
    // standing = the batch operators' residue split, so the stream's
    // batch-1 verdicts must equal mm_audio_intake row-for-row
    val (inc, ex) = graft.ops.Multimodal.mmDeltaSplit(
      graft.ops.AudioDedup.synthesizeWavAssets(spark, dir))
    IndexStore.writeAudioSig(ex, idx, Build)

    StreamingOps.audioIntakeBatch(inc.toDF(), 1L, idx, verdicts)
    def vRows(b: Long) = spark.read.parquet(s"$verdicts/b=$b")
      .select($"asset_id", $"n_near", $"verdict").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val v1 = vRows(1L)
    val batchOp = graft.ops.AudioDedup.audioDupIntake(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(v1 === batchOp, "stream batch 1 must equal the batch operator")
    // crash replay: probe reads segments < 1 only, writes overwrite
    StreamingOps.audioIntakeBatch(inc.toDF(), 1L, idx, verdicts)
    assert(vRows(1L) === v1)
    // batch 2 = exact byte copies of batch 1's assets under new ids:
    // identical PCM decodes to the identical fingerprint and verifies at
    // L1 = 0 — every verdict must be 'near', possible only because
    // batch 1's signatures appended inside the loop
    val b2 = inc.map(a => a.copy(asset_id = a.asset_id + 100000L))
    StreamingOps.audioIntakeBatch(b2.toDF(), 2L, idx, verdicts)
    val v2 = vRows(2L)
    assert(v2.nonEmpty && v2.forall(_._3 == "near"),
      "an exact copy of an indexed WAV must triage as near")
    assert(IndexStore.readAudioSig(spark, idx, Some(3L)).count() ===
      ex.count() + 2 * inc.count())
  }


  test("streaming audio intake sink: two micro-batches on a stream " +
      "write the verdicts and signatures the direct batch calls write") {
    import spark.implicits._
    import graft.sources.IndexStore
    val base = java.nio.file.Files.createTempDirectory("audio-sink").toString
    val (inc, ex) = graft.ops.Multimodal.mmDeltaSplit(
      graft.ops.AudioDedup.synthesizeWavAssets(spark, "/root/testdata/sf0.001"))
    Seq("stream", "direct").foreach(a =>
      IndexStore.writeAudioSig(ex, s"$base/$a/idx", Build))
    val b1 = inc.toDF()
    val b2 = inc.map(a => a.copy(asset_id = a.asset_id + 100000L)).toDF()
    runSink(b1, b2)(StreamingOps.audioIntakeSink(_, s"$base/stream/idx",
      s"$base/stream/verdicts")(s"$base/ckpt"))
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      StreamingOps.audioIntakeBatch(b, i.toLong, s"$base/direct/idx",
        s"$base/direct/verdicts")
    }
    assert(rowsUnder(s"$base/stream/verdicts").nonEmpty)
    assert(rowsUnder(s"$base/stream/verdicts") ===
      rowsUnder(s"$base/direct/verdicts"))
    def sigs(a: String) = IndexStore.readAudioSig(spark, s"$base/$a/idx",
      Some(2L)).collect().map(_.toString).sorted.toSeq
    assert(sigs("stream") === sigs("direct"))
  }

  test("streaming triage sink: exact AND near duplicates of earlier batches " +
      "are caught via the index appends inside the loop") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.IndexStore
    val dir = "/root/testdata/sf0.001"
    val standing = graft.ops.Tables.documents(spark, dir)
    val base = java.nio.file.Files.createTempDirectory("triage").toString
    val idx = s"$base/idx"
    val verdicts = s"$base/verdicts"
    IndexStore.writeDedup(standing, idx, Build)

    // a long novel doc, its exact copy, and a near variant (small edit)
    val novel = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = novel.replace("tok20", "EDITED")

    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.triageSink(
        input.toDF().toDF("doc_id", "text"), idx, verdicts)(s"$base/ckpt")
    try {
      input.addData((9300L, novel))
      q.processAllAvailable()
      input.addData((9301L, novel), (9302L, near))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(verdicts)
      .select($"doc_id", $"verdict").as[(Long, String)].collect().toMap
    assert(got(9300L) === "novel", "first sighting is novel")
    assert(got(9301L) === "exact", "batch-2 exact copy caught by the append")
    assert(got(9302L) === "near", "batch-2 near variant caught by the band append")
  }

  test("repetition metrics: the per-row projection streams unchanged " +
      "(stream ≡ batch on real docs)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").as[(Long, String)].collect().take(100)
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.TextAnalysis
      .repetitionStatsOf(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("rep_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM rep_stream").collect()
        .map(_.toSeq).toSet
      val batch = graft.ops.TextAnalysis
        .repetitionStatsOf(docs.toSeq.toDF("doc_id", "text"))
        .collect().map(_.toSeq).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("gopher rule battery: the per-row projection streams unchanged " +
      "(stream ≡ batch on real docs)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").as[(Long, String)].collect().take(100)
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.TextAnalysis
      .gopherRulesOf(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM gopher_stream").collect()
        .map(_.toSeq).toSet
      val batch = graft.ops.TextAnalysis
        .gopherRulesOf(docs.toSeq.toDF("doc_id", "text"))
        .collect().map(_.toSeq).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("winnowing sketch: the per-row HOF fold streams unchanged and " +
      "equals the batch window formulation") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.documents(spark, dir)
      .select($"doc_id", $"text")
    val rows = docs.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.TextAnalysis.winnowOf(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("winnow_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, fp FROM winnow_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.ops.TextAnalysis.winnow(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys within the watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev(1, 0, 1, "click", 1.0), ev(2, 1, 1, "click", 9.0),
        ev(3, 2, 2, "view", 3.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM deduped").head().getLong(0) === 2)
    } finally q.stop()
  }

  test("checkpointed file sink is exactly-once across a stop/restart") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    val input = MemoryStream[StreamEvent]
    def start() = StreamingOps.windowedTypeCounts(input.toDF(), "10 minutes")
      .select($"window.start".as("ws"), $"event_type", $"n")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    val q1 = start()
    try {
      input.addData(ev(1, 0, 1, "click", 1.0), ev(2, 5, 1, "click", 2.0))
      q1.processAllAvailable()
      input.addData(ev(3, 300, 1, "click", 3.0)) // closes the first window
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint: the closed window must not be
    // re-emitted, and new data keeps flowing
    val q2 = start()
    try {
      input.addData(ev(4, 600, 1, "view", 4.0)) // closes the t=300 window
      q2.processAllAvailable()
    } finally q2.stop()

    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
    assert(rows.length === rows.distinct.length, "duplicate sink rows after restart")
    // exactly the two finalized windows: [0,10) with 2 clicks, [300,310) 1 click
    assert(rows.map(x => (x._2, x._3)).sorted.toSeq === Seq(("click", 1L), ("click", 2L)))
  }

  test("stream-static dedup: incoming docs triage against the standing " +
      "corpus without streaming state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val standing = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val dupText = standing.filter(org.apache.spark.sql.functions.col("doc_id") === 3)
      .head().getString(1)
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupAgainstStatic(
        input.toDF().toDF("doc_id", "text"), standing)
      .writeStream.format("memory").queryName("ss_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1000L, dupText), (1001L, "certainly novel text zzz"))
      q.processAllAvailable()
      input.addData((1002L, dupText)) // second batch re-probes the static side
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, is_dup FROM ss_dedup ORDER BY doc_id")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toSeq
      assert(rows === Seq(1000L -> true, 1001L -> false, 1002L -> true))
    } finally q.stop()
  }

  private def withRocksDb(body: => Unit): Unit = {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StreamingOps.requireRocksDb(spark)
    try body finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("live funnel: stage state survives batches and strict ordering is " +
      "enforced") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val input = MemoryStream[StreamEvent]
      val q = StreamingOps.funnelStages(input.toDS())
        .writeStream.format("memory").queryName("funnel_live")
        .outputMode(OutputMode.Append()).start()
      try {
        // user 1: click BEFORE any view must not convert stage 2
        // user 2: view in batch 1; click arrives in batch 2 (cross-batch)
        input.addData(ev(1, 1, 1, "click", 0), ev(2, 2, 1, "view", 0),
          ev(3, 1, 2, "view", 0))
        q.processAllAvailable()
        input.addData(ev(4, 5, 2, "click", 0), ev(5, 6, 2, "purchase", 0),
          ev(6, 3, 1, "purchase", 0)) // user 1 purchase without click: no-op
        q.processAllAvailable()
        val got = spark.sql(
          "SELECT user_id, stage FROM funnel_live ORDER BY user_id, stage")
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
        assert(got === Seq((1L, 1), (2L, 1), (2L, 2), (2L, 3)))
      } finally q.stop()
    }
  }

  test("live funnel equals the batch funnel on the real events table " +
      "(time-ordered replay)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    withRocksDb {
      val dir = "/root/testdata/sf0.001"
      val rows = graft.ops.Tables.events(spark, dir)
        .select($"event_id", expr("timestamp_micros(ts div 1000)").as("ts"),
          $"user_id", $"event_type", $"value")
        .as[StreamEvent].collect().sortBy(e => (e.ts.getTime, e.event_id))
      val input = MemoryStream[StreamEvent]
      val q = StreamingOps.funnelStages(input.toDS())
        .writeStream.format("memory").queryName("funnel_parity")
        .outputMode(OutputMode.Append()).start()
      try {
        // two ordered batches: state must carry the split correctly
        val (b1, b2) = rows.splitAt(rows.length / 2)
        input.addData(b1.toIndexedSeq: _*)
        q.processAllAvailable()
        input.addData(b2.toIndexedSeq: _*)
        q.processAllAvailable()
        val streamed = spark.sql(
          "SELECT stage, count(*) AS n FROM funnel_parity GROUP BY stage")
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val batch = graft.ops.Analytics.funnel(spark, dir)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(streamed.getOrElse(1, 0L) === batch("1_view"))
        assert(streamed.getOrElse(2, 0L) === batch("2_click"))
        assert(streamed.getOrElse(3, 0L) === batch("3_purchase"))
      } finally q.stop()
    }
  }

  test("CDC upsert sink: a change stream maintains the store snapshot " +
      "equal to the sequential batch merge of every batch seen") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val store = new graft.collab.ParquetTableStore(spark, root)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    store.create("snap", schema)
    store.append("snap", Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("k", "v"))

    val input = MemoryStream[(Long, String, String)]
    val changes = input.toDF().toDF("k", "op", "v")
    val q = StreamingOps.upsertSink(changes, store, "snap", "k", "v")(
      s"$root/ckpt")
    try {
      input.addData((2L, "update", "B"), (4L, "insert", "D"))
      q.processAllAvailable()
      assert(store.scan("snap").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet ===
        Set(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
      // second batch: delete + update-after-delete no-op + resurrect-insert
      input.addData((1L, "delete", null), (5L, "update", "ghost"),
        (4L, "update", "D2"))
      q.processAllAvailable()
      assert(store.scan("snap").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet ===
        Set(2L -> "B", 3L -> "c", 4L -> "D2"))
    } finally q.stop()
  }

  test("MOR CDC sink: O(delta) appends + reconciled read view + compaction " +
      "— base files untouched between compactions") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-mor-cdc").toString
    val store = new graft.collab.ParquetTableStore(spark, root)
    store.create("base", StructType(Seq(StructField("k", LongType),
      StructField("v", StringType))))
    store.append("base", Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("k", "v"))
    store.create("delta", StructType(Seq(StructField("k", LongType),
      StructField("op", StringType), StructField("v", StringType),
      StructField("__batch", LongType), StructField("__seq", LongType))))
    def baseFiles() = new java.io.File(s"$root/base").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet

    val filesBefore = baseFiles()
    val input = MemoryStream[(Long, String, String)]
    val q = StreamingOps.upsertSinkMor(input.toDF().toDF("k", "op", "v"),
      store, "delta", "k", "v")(s"$root/ckpt")
    try {
      input.addData((2L, "update", "B"), (4L, "insert", "D"))
      q.processAllAvailable()
      input.addData((1L, "delete", null), (4L, "update", "D2"))
      q.processAllAvailable()
    } finally q.stop()

    // base files byte-for-byte untouched by two change batches
    assert(baseFiles() === filesBefore, "MOR must not rewrite base files")
    val view = StreamingOps.morSnapshot(store, "base", "delta", "k", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(view === Set((2L, "B", "updated"), (3L, "c", "kept"),
      (4L, "D2", "inserted")))
    // time travel: AS OF batch 0 shows the state before the second batch
    val asOf0 = StreamingOps.morSnapshotAt(store, "base", "delta", "k", "v", 0L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(asOf0 === Set(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))

    // compaction folds the stamped log into base and empties it
    graft.ops.Upsert.compact(store, "base", "delta", "k", "v")
    assert(store.scan("delta").count() === 0)
    assert(store.scan("base").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet ===
      Set(2L -> "B", 3L -> "c", 4L -> "D2"))
    // and the view over the compacted pair is unchanged (all rows now kept)
    val after = StreamingOps.morSnapshot(store, "base", "delta", "k", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(after === Set(2L -> "B", 3L -> "c", 4L -> "D2"))
  }

  test("streaming SCD2 closed intervals equal the batch collapse on the real changelog " +
      "(batch-per-batch CDC replay)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    withRocksDb {
      val dir = "/root/testdata/sf0.001"
      // the q_scd2 changelog, replayed batch by batch through the stream
      val docs = graft.ops.Tables.documents(spark, dir)
        .select($"doc_id", $"n_chars").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      def batch(b: Int): Seq[ScdObservation] = b match {
        case 0 => docs.map { case (id, n) => ScdObservation(id, n, 0) }.toSeq
        case 1 => docs.collect { case (id, n) if id % 5 == 0 => ScdObservation(id, n + 10, 1) }.toSeq
        case 2 => docs.collect { case (id, n) if id % 7 == 0 => ScdObservation(id, n + 20, 2) }.toSeq
      }
      val input = MemoryStream[ScdObservation]
      val q = StreamingOps.scd2Closed(input.toDS())
        .writeStream.format("memory").queryName("scd2_live")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
      try {
        (0 to 2).foreach { b => input.addData(batch(b): _*); q.processAllAvailable() }
        val streamed = spark.sql(
          "SELECT key, value, valid_from, valid_to FROM scd2_live")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
        val batchClosed = graft.ops.Analytics.scd2Documents(spark, dir)
          .filter(col("valid_to").isNotNull)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
        assert(streamed === batchClosed)
        assert(streamed.nonEmpty)
      } finally q.stop()
    }
  }

  test("streaming SCD2 collapses same-value re-observations across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    withRocksDb {
      val input = MemoryStream[ScdObservation]
      val q = StreamingOps.scd2Closed(input.toDS())
        .writeStream.format("memory").queryName("scd2_collapse")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
      try {
        input.addData(ScdObservation(1, 100, 0)); q.processAllAvailable()
        input.addData(ScdObservation(1, 100, 1)); q.processAllAvailable() // re-observe
        input.addData(ScdObservation(1, 200, 2)); q.processAllAvailable() // change
        val got = spark.sql("SELECT key, value, valid_from, valid_to FROM scd2_collapse")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
        // ONE closed interval [0, 1] — the re-observation did not split it
        assert(got === Seq((1L, 100L, 0, 1)))
      } finally q.stop()
    }
  }

  test("topk_by streams: incremental state across two batches equals the " +
      "batch aggregate on real events (merge + serde exercised in the " +
      "state store)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.TopKBy.register(spark)

    val events = graft.ops.Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", expr("timestamp_micros(ts div 1000)").as("ts"),
        $"user_id", $"event_type", $"value")
    val rows = events.as[StreamEvent].collect()
    val (first, second) = rows.splitAt(rows.length / 2)

    val input = MemoryStream[StreamEvent]
    val q = input.toDF()
      .groupBy($"event_type")
      .agg(expr("topk_by(value, event_id, 5)").as("top"))
      .select($"event_type", expr("transform(top, x -> x.tag)").as("ids"))
      .writeStream.format("memory").queryName("topk_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(first.toIndexedSeq: _*)
      q.processAllAvailable() // state written once, merged next batch
      input.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()

      val streamed = spark.sql("SELECT event_type, ids FROM topk_stream")
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap

      val batch = events
        .groupBy($"event_type")
        .agg(expr("topk_by(value, event_id, 5)").as("top"))
        .select($"event_type", expr("transform(top, x -> x.tag)").as("ids"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap

      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming transitions: cross-batch linked edges aggregate to the batch bigram counts") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    withRocksDb {
      val dir = "/root/testdata/sf0.001"
      // millisecond-truncated ts on BOTH sides so ordering ties break
      // identically by event_id in the stream sort and the batch window
      val evDf = graft.ops.Tables.events(spark, dir)
        .select($"event_id", expr("timestamp_millis(ts div 1000000)").as("ts"),
          $"user_id", $"event_type", $"value")
      val rows = evDf.as[StreamEvent].collect()
        .sortBy(e => (e.ts.getTime, e.event_id))
      val input = MemoryStream[StreamEvent]
      val q = StreamingOps.transitionEdges(input.toDS())
        .writeStream.format("memory").queryName("trans_parity")
        .outputMode(OutputMode.Append()).start()
      try {
        val (b1, b2) = rows.splitAt(rows.length / 2)
        input.addData(b1.toIndexedSeq: _*)
        q.processAllAvailable() // state holds each user's last event
        input.addData(b2.toIndexedSeq: _*)
        q.processAllAvailable() // first batch-2 event links across batches
        val streamed = spark.sql(
          "SELECT src, dst, count(*) AS n FROM trans_parity GROUP BY src, dst")
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        val batch = graft.ops.Analytics.transitionsOf(evDf)
          .select($"src", $"dst", $"n")
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        assert(streamed === batch)
      } finally q.stop()
    }
  }

  test("agg-view sink: newest version equals the batch aggregate after every prefix; replay rewrites identically") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.ops.ViewMaintain
    val root = java.nio.file.Files.createTempDirectory("aggview").toString
    val ck = java.nio.file.Files.createTempDirectory("aggview-ck").toString
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.aggViewSink(input.toDF(), root)(ck)
    def viewAt(v: Long) = spark.read.parquet(s"$root/v=$v")
      .orderBy(col("user_id")).as[(Long, Long, Long)].collect().toSeq
    def aggOf(evs: Seq[StreamEvent]) = ViewMaintain.viewOf(evs.toDF())
      .orderBy(col("user_id")).as[(Long, Long, Long)].collect().toSeq
    try {
      val b1 = Seq(ev(1, 0, 1, "click", 1.5), ev(2, 1, 1, "view", 2.0),
        ev(3, 2, 2, "click", 0.25))
      input.addData(b1: _*)
      q.processAllAvailable()
      val b2 = Seq(ev(4, 3, 2, "click", 1.0), ev(5, 4, 3, "view", 4.0))
      input.addData(b2: _*)
      q.processAllAvailable()

      val versions = Tables.versions(spark, root, "v")
      assert(versions.size == 2, s"versions $versions")
      // prefix property: each committed version is the aggregate of
      // exactly the batches up to it
      assert(viewAt(versions.head) == aggOf(b1))
      assert(viewAt(versions.last) == aggOf(b1 ++ b2))
      // crash-replay of the last batch: reads only versions < its id, so
      // it deterministically rewrites the same view
      ViewMaintain.applyViewBatch(b2.toDF(), root, versions.last)
      assert(viewAt(versions.last) == aggOf(b1 ++ b2))
      assert(Tables.versions(spark, root, "v") == versions)
    } finally q.stop()
  }
}
