package graft

import scala.jdk.CollectionConverters._

import graft.ops.{Caching, Tables}
import graft.sources.IndexStore

/** The two scopes of [[State]]: a `spark.newSession()` of the same
  * application shares built artifacts but keeps its own schemas, memos
  * and resident copies; an application's artifacts are keyed by its id
  * and deleted when it ends. */
class StateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a new session of the application gets the same built artifact " +
      "root with no second build") {
    val s2 = spark.newSession()
    val corpus = tmp("state-built")
    var builds = 0
    val root = State.built(spark, "spec", corpus) { p =>
      builds += 1
      Seq((1L, "a")).toDF("id", "s").write.parquet(p)
    }
    assert(State.built(s2, "spec", corpus)(_ => builds += 1) === root)
    assert(builds === 1, "the second session must not rebuild")
    assert(root.startsWith(new java.io.File(System.getProperty(
      "java.io.tmpdir"), s"graft_${spark.sparkContext.applicationId}").toString))

    // the same holds for a standing accessor: one build, shared root —
    // a rebuild would rewrite the part files under new names
    sf("documents").write.parquet(s"$corpus/documents.parquet")
    val dedupRoot = IndexStore.dedupRoot(spark, corpus)
    def files() = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(dedupRoot), null, true).asScala
      .map(_.getPath).toSeq.sorted
    val built = files()
    assert(IndexStore.dedupRoot(s2, corpus) === dedupRoot)
    assert(files() === built, "the second session must not rebuild")
  }

  test("a new session keeps its own schema, memo and resident entries") {
    val s2 = spark.newSession()
    // schema: each session infers its own
    val p = tmp("state-schema") + "/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(p)
    assert(Tables.readCached(spark, p).columns.toSeq === Seq("id", "s"))
    Seq((2L, "b", 7.5)).toDF("id", "s", "x").write.mode("overwrite").parquet(p)
    assert(Tables.readCached(s2, p).columns.toSeq === Seq("id", "s", "x"),
      "a new session must infer its own schema")
    assert(Tables.readCached(spark, p).columns.toSeq === Seq("id", "s"),
      "the first session keeps its cached entry")
    State.invalidate(spark, p)

    // memo: each session computes its own
    val key = s"stateSpec:${System.nanoTime()}"
    var computed = 0
    def frame = { computed += 1; Seq((1L, "m")).toDF("id", "v") }
    Caching.memo(spark, key)(frame).count()
    Caching.memo(spark, key)(frame).count()
    assert(computed === 1)
    Caching.memo(s2, key)(frame).count()
    assert(computed === 2, "a new session must compute its own memo")

    // resident copy: each session pins its own, over the one built root
    val corpus = tmp("state-resident")
    sf("documents").write.parquet(s"$corpus/documents.parquet")
    val a = IndexStore.standingDedupIndex(spark, corpus)
    val b = IndexStore.standingDedupIndex(s2, corpus)
    assert(!(a.digests eq b.digests), "each session pins its own copy")
    assert(a.digests eq IndexStore.standingDedupIndex(spark, corpus).digests)
    assert(a.digests.collect().map(_.toString).sorted.toSeq ===
      b.digests.collect().map(_.toString).sorted.toSeq)
    // a write through one session drops the stale copy in every session
    val root = IndexStore.dedupRoot(spark, corpus)
    State.invalidate(spark, root)
    assert(!(IndexStore.standingDedupIndex(s2, corpus).digests eq b.digests))
    State.invalidate(spark, root)
  }

  test("application artifacts are keyed by applicationId and deleted " +
      "when the application ends") {
    // two applications in turn need their own JVM: the suite's shared
    // context must stay up
    val javaBin = new java.io.File(System.getProperty("java.home"), "bin/java")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String])
      .filter(a => a.startsWith("--add-opens") || a.contains("=ALL-UNNAMED") ||
        a.startsWith("-Dspark."))
    val cmd = Seq(javaBin.getPath) ++ jvmArgs ++ Seq("-Xmx1g", "-cp",
      System.getProperty("java.class.path"), "graft.StateAppEndMain")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() === 0, out)
    assert(out.contains("two applications: ok"), out)
  }
}

/** Runs two local applications one after the other in this JVM and
  * checks that each builds its own artifact root and that stopping an
  * application deletes its root. Exits non-zero on a failed check. */
object StateAppEndMain {
  def main(args: Array[String]): Unit = {
    def check(ok: Boolean, what: String): Unit =
      if (!ok) { System.err.println(s"FAILED: $what"); sys.exit(1) }
    var builds = 0
    def run(): String = {
      val s = org.apache.spark.sql.SparkSession.builder()
        .master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      val root = State.built(s, "spec", "/corpus") { p =>
        builds += 1
        s.range(3).write.parquet(p)
      }
      check(new java.io.File(root).isDirectory, s"$root was not built")
      s.stop()
      check(!new java.io.File(root).exists, s"$root outlived its application")
      check(!new java.io.File(root).getParentFile.exists,
        "the application directory outlived its application")
      root
    }
    val first = run()
    val second = run()
    check(first != second, "the second application reused the first's root")
    check(builds == 2, s"expected one build per application, got $builds")
    println("two applications: ok")
  }
}
