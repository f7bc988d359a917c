package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}

import graft.SparkEntry
import graft.collab.{ParquetTableStore, Pipeline}

/** The benchmark's measuring process: one JVM, one `local[N]` session,
  * one closed-loop client. `run.py` builds the inputs, writes a run
  * config (a java.util.Properties file) and reads back the JSON record
  * this writes; all statistics are computed there.
  *
  * Phases: session start → the workload's warmup entries (and, for the
  * collab workload, the reference-CSV parity run) → the warm-up passes
  * (checked, untimed) → the timed passes run.py planned from `--seconds`
  * (whole passes, so every run measures the same op multiset) → forced
  * full GC and the retained-heap reading.
  *
  * With `trace=1`, passes alternate untraced/traced; traced passes
  * register a [[Recorder]] and record per-op spans, and the pair of pass
  * kinds gives the tracing overhead.
  */
object Main {
  final case class Expect(rows: Long, hash: Long)

  final case class Span(id: String, parent: String, name: String,
      startMs: Double, endMs: Double)

  final case class OpRec(idx: Int, pass: Int, traced: Boolean, name: String,
      startMs: Double, endMs: Double, ok: Boolean, rows: Long, hash: Long,
      err: String, cpuS: Double, constructS: Double, consumeS: Double,
      pipelineS: Double, rmse: Double, storageMb: Double, persistedRdds: Int)

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms with sub-ms resolution. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process (all threads: driver, executor tasks,
    * GC, JIT) in seconds. Time the hypervisor steals from the VM is not
    * charged to it, so it reads the work done, not the host's load. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val conf = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try conf.load(in) finally in.close()
    def get(k: String, d: String = null): String =
      Option(conf.getProperty(k)).getOrElse {
        if (d == null) sys.error(s"config key $k missing") else d
      }
    val out = new Main(
      workload = get("workload"),
      maxTimedS = get("max_timed_s").toDouble,
      trace = get("trace") == "1",
      dataDir = get("data_dir"),
      root = get("root"),
      cpus = get("cpus").toInt,
      passes = Files.readAllLines(Paths.get(get("plan_file"))).asScala.toSeq
        .filter(_.nonEmpty).map(_.split(",").toSeq),
      expect = readExpect(get("expect_file", "")),
      warmup = get("warmup", "").split(",").toSeq.filter(_.nonEmpty),
      referenceCsv = get("reference_csv", ""),
      ratingsCsvs = get("ratings_csvs", "").split(",").toSeq.filter(_.nonEmpty),
      ratingsValid = get("ratings_valid", "0").toLong,
      rmseBound = get("rmse_bound", "0").toDouble,
      pairOps = get("pair_ops", "").split(",").toSet.filter(_.nonEmpty),
      warmPasses = get("warm_passes", "0").toInt,
      minPasses = get("min_passes", "1").toInt,
      checking = get("check", "1") == "1",
    ).run()
    Files.writeString(Paths.get(get("record_out")), out)
  }

  /** Expectations file: `name<TAB>rows<TAB>hash` per line. */
  def readExpect(path: String): Map[String, Expect] =
    if (path.isEmpty) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val f = l.split("\t")
        f(0) -> Expect(f(1).toLong, f(2).toLong)
      }.toMap

  /** Consumes a result in full: every row is deserialized and hashed.
    * Returns (rows, order-insensitive hash). A Dataset action, like a
    * user's `collect`, so the result's own plan runs as an SQL execution
    * and reaches the QueryExecutionListener. */
  def consume(df: DataFrame): (Long, Long) = {
    val parts = df.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += RowHash.hash(r) }
      Iterator((n, h))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

final class Main(workload: String, maxTimedS: Double, trace: Boolean,
    dataDir: String, root: String, cpus: Int, passes: Seq[Seq[String]],
    expect: Map[String, Main.Expect], warmup: Seq[String],
    referenceCsv: String, ratingsCsvs: Seq[String], ratingsValid: Long,
    rmseBound: Double, pairOps: Set[String], warmPasses: Int, minPasses: Int,
    checking: Boolean) {
  import Main._

  private val setupEntries = mutable.ArrayBuffer[(String, Double)]()
  private val setupErrors = mutable.ArrayBuffer[String]()
  private val ops = mutable.ArrayBuffer[OpRec]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val passWall = mutable.ArrayBuffer[(Int, Boolean, Double)]()
  private val recorder = new Recorder
  /** (rows, hash) of every registry call, by query name (last one wins). */
  private val observed = mutable.LinkedHashMap[String, (Long, Long)]()
  private var round = 0

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  def run(): String = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$root/checkpoints")
    setupEntries += ("session" -> secs(t0))

    for (w <- warmup) {
      val t = System.nanoTime()
      try SparkEntry.queries(w)(spark, dataDir).count()
      catch { case NonFatal(e) => setupErrors += s"warmup $w: ${msg(e)}" }
      setupEntries += (w -> secs(t))
    }
    if (referenceCsv.nonEmpty) {
      // reference parity: the CollabFilterTest gate on the reference file
      val t = System.nanoTime()
      try {
        val r = Pipeline.run(spark,
          new ParquetTableStore(spark, s"$root/tmp/store-reference"), referenceCsv)
        if (!(r.rmse < 0.5)) setupErrors += f"reference parity: RMSE ${r.rmse}%.4f >= 0.5"
      } catch { case NonFatal(e) => setupErrors += s"reference parity: ${msg(e)}" }
      setupEntries += ("parity" -> secs(t))
    }

    // warm-up: the first passes of the plan run before timing, so the
    // timed passes see a warm JVM (JIT, codegen caches) instead of paying
    // its first-use costs; their ops are checked like timed ones
    if (warmPasses > 0) {
      val t = System.nanoTime()
      for (p <- 0 until warmPasses; name <- passes(p)) {
        val o = runOp(spark, name, p, traced = false)
        if (!o.ok) setupErrors += s"warm-up ${o.name}: ${o.err}"
      }
      setupEntries += ("warm_pass" -> secs(t))
    }

    val firstOpMs = nowMs()
    val gcBefore = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())
    val tTimed = System.nanoTime()
    val cpuTimed = cpuS()
    var p = 0
    val timed = passes.drop(warmPasses)
    // every planned pass runs (a fixed op multiset per run); the time
    // limit only guards the process budget if the engine gets far slower
    while (p < timed.size && (p < minPasses || secs(tTimed) < maxTimedS)) {
      val traced = trace && p % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      }
      val tp = System.nanoTime()
      for (name <- timed(p)) ops += runOp(spark, name, p, traced)
      passWall += ((p, traced, secs(tp)))
      if (traced) {
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
      }
      p += 1
    }
    val timedS = secs(tTimed)
    val timedCpuS = cpuS() - cpuTimed
    val gcS = (gcMs() - gcBefore) / 1000.0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    // one more (lazy) registry construction runs SparkEntry.fresh's
    // hygiene, so the reading is what the session keeps between ops, not
    // the blocks the seed-chosen last op happened to leave pinned
    try SparkEntry.queries("q_sort_limit")(spark, dataDir)
    catch { case NonFatal(e) => setupErrors += s"hygiene: ${msg(e)}" }
    // a GC lets Spark's ContextCleaner see dropped broadcasts and RDDs; give
    // it a moment to remove their blocks, then collect what they held
    System.gc()
    PerfbenchBus.drain(spark.sparkContext)
    Thread.sleep(1000)
    System.gc()
    val retainedMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    spark.stop()
    record((firstOpMs - jvmStartMs) / 1000, timedS, timedCpuS, gcS, heapPeakMb,
      retainedMb)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def msg(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"

  /** Constructs and consumes one registry query; returns (rows, hash,
    * construct s, consume s). */
  private def registry(spark: SparkSession, name: String, parent: String,
      traced: Boolean): (Long, Long, Double, Double) = {
    val a = nowMs()
    val df = SparkEntry.queries(name)(spark, dataDir)
    val b = nowMs()
    val (rows, hash) = consume(df)
    val c = nowMs()
    observed(name) = (rows, hash)
    if (traced) {
      spans += Span(s"$parent/$name/construct", parent, "registry.construct", a, b)
      spans += Span(s"$parent/$name/consume", parent, "registry.consume", b, c)
    }
    (rows, hash, (b - a) / 1000, (c - b) / 1000)
  }

  private def check(name: String, rows: Long, hash: Long): Option[String] =
    if (!checking) None
    else expect.get(name) match {
      case None => Some(s"no expectation for $name")
      case Some(e) if e.rows != rows => Some(s"$name: $rows rows, expected ${e.rows}")
      case Some(e) if e.hash != hash => Some(s"$name: hash $hash, expected ${e.hash}")
      case _ => None
    }

  private def runOp(spark: SparkSession, name: String, pass: Int,
      traced: Boolean): OpRec = {
    val idx = ops.size
    val id = s"op-$idx"
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val start = nowMs()
    val cpu0 = cpuS()
    var rows, hash = 0L
    var constructS, consumeS, pipelineS = 0.0
    var rmse = Double.NaN
    val errs = mutable.ArrayBuffer[String]()
    try {
      if (name == "collab_round") {
        val csv = ratingsCsvs(round)
        val store = new ParquetTableStore(spark, s"$root/tmp/store-round$round")
        round += 1
        val a = nowMs()
        val r = Pipeline.run(spark, store, csv)
        val b = nowMs()
        pipelineS = (b - a) / 1000
        if (traced) spans += Span(s"$id/pipeline", id, "collab.Pipeline.run", a, b)
        rmse = r.rmse
        // report = header, one line per validation row, the RMSE line
        rows = r.report.linesIterator.size - 2L
        if (rows != ratingsValid) errs += s"report rows $rows, expected $ratingsValid"
        if (!(r.rmse < rmseBound)) errs += f"rmse ${r.rmse}%.4f >= bound $rmseBound"
      } else {
        val (n, h, c1, c2) = registry(spark, name, id, traced)
        rows = n; hash = h; constructS = c1; consumeS = c2
        errs ++= check(name, n, h)
      }
    } catch { case NonFatal(e) => errs += msg(e) }
    val end = nowMs()
    val cpu = cpuS() - cpu0
    sc.clearJobGroup()
    var storageMb = 0.0
    var persisted = 0
    if (traced) {
      spans += Span(id, "", name, start, end)
      storageMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      persisted = sc.getPersistentRDDs.size
    }
    OpRec(idx, pass, traced, name, start, end, errs.isEmpty, rows, hash,
      errs.mkString("; "), cpu, constructS, consumeS, pipelineS, rmse, storageMb,
      persisted)
  }

  private def record(setupS: Double, timedS: Double, timedCpuS: Double, gcS: Double,
      heapPeakMb: Double, retainedMb: Double): String = {
    val jobs = recorder.synchronized(recorder.jobs.toList)
    val qes = recorder.synchronized(recorder.qes.toList)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "setup_entries" -> setupEntries.toMap,
      "setup_errors" -> setupErrors.toSeq,
      "timed_s" -> timedS,
      "timed_cpu_s" -> timedCpuS,
      "gc_s" -> gcS,
      "heap_peak_mb" -> heapPeakMb,
      "heap_retained_mb" -> retainedMb,
      "observed" -> observed.toMap.map { case (k, (n, h)) =>
        k -> Map("rows" -> n, "hash" -> h) },
      "passes" -> passWall.toSeq.map { case (p, t, w) =>
        Map("pass" -> p, "traced" -> t, "wall_s" -> w) },
      "ops" -> ops.toSeq.map { o =>
        Map("idx" -> o.idx, "pass" -> o.pass, "traced" -> o.traced, "name" -> o.name,
          "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.ok, "rows" -> o.rows,
          "hash" -> o.hash, "err" -> o.err, "cpu_s" -> o.cpuS,
          "construct_s" -> o.constructS,
          "consume_s" -> o.consumeS, "pipeline_s" -> o.pipelineS,
          "rmse" -> (if (o.rmse.isNaN) None else Some(o.rmse)),
          "storage_mb" -> o.storageMb, "persisted_rdds" -> o.persistedRdds)
      },
      "spans" -> spans.toSeq.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)
      },
      "jobs" -> jobs.map { j =>
        Map("id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "module" -> j.module, "modules" -> j.modules,
          "tasks" -> j.tasks, "shuffle_write_bytes" -> j.shuffleWriteBytes,
          "shuffle_records" -> j.shuffleRecords, "spill_bytes" -> j.spillBytes,
          "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes)
      },
      "qes" -> qes.map { q =>
        Map("start_ms" -> q.startMs, "plan_ms" -> q.planMs,
          "exchanges" -> q.exchanges, "smj" -> q.smj, "bhj" -> q.bhj,
          "reused_exchanges" -> q.reused, "checkpoint_scans" -> q.checkpointScans)
      }))
  }
}

/** Order-insensitive result hashing: each row is rendered canonically and
  * hashed to 64 bits; a result's hash is the sum of its rows' hashes
  * (mod 2^64), so row order and partitioning do not matter but every
  * duplicate row does. Doubles are rounded to 9 significant digits and
  * floats to 6, so the last-bit wobble of a reordered floating-point sum
  * does not read as a wrong answer. */
object RowHash {
  import java.math.{BigDecimal => JBig, MathContext}
  private val mc9 = new MathContext(9)
  private val mc6 = new MathContext(6)

  private def canon(v: Any, b: java.lang.StringBuilder): Unit = v match {
    case null => b.append("null")
    case d: Double =>
      if (d.isNaN || d.isInfinite) b.append(d)
      else if (d == 0.0) b.append("0")
      else b.append(new JBig(d).round(mc9).stripTrailingZeros.toString)
    case f: Float =>
      if (f.isNaN || f.isInfinite) b.append(f)
      else if (f == 0.0f) b.append("0")
      else b.append(new JBig(f.toDouble).round(mc6).stripTrailingZeros.toString)
    case r: Row =>
      b.append('(')
      var i = 0
      while (i < r.length) { if (i > 0) b.append(','); canon(r.get(i), b); i += 1 }
      b.append(')')
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val kb = new java.lang.StringBuilder
        canon(k, kb); kb.append("->"); canon(x, kb); kb.toString
      }.sorted
      b.append(parts.mkString("{", ",", "}"))
    case s: scala.collection.Seq[_] =>
      b.append('[')
      var first = true
      s.foreach { x => if (!first) b.append(','); canon(x, b); first = false }
      b.append(']')
    case a: Array[Byte] => a.foreach(x => b.append(f"$x%02x"))
    case other => b.append(other.toString)
  }

  def hash(r: Row): Long = {
    val b = new java.lang.StringBuilder
    canon(r, b)
    val s = b.toString
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x12b9b0a1)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }
}
