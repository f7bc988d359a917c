package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-level rules for `src/main`: every entry point gets its session
  * from [[Session]], the only env knobs are the declared contract,
  * session- or application-keyed state lives only in [[State]], and the
  * standing indexes and streaming sinks express their variants as
  * parameters, not as copies. */
class SourceScanSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala")

  private def sources: Seq[(Path, String)] = {
    assert(Files.isDirectory(main), s"run from the repo root: $main missing")
    val walk = Files.walk(main)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  test("src/main builds a SparkSession only in the Session factory") {
    val builders = sources.collect {
      case (p, src) if """SparkSession\s*\.\s*builder""".r.findFirstIn(src)
          .isDefined => main.relativize(p).toString
    }
    assert(builders === Seq("graft/Session.scala"))
  }

  test("src/main names no SPARK_GRAFT_* env var outside the declared " +
      "contract") {
    val contract = Set("CPUS", "SF_DIR", "WARMUP", "BENCH_OUT")
    val knobs = sources.flatMap { case (p, src) =>
      """SPARK_GRAFT_([A-Z0-9_]+)""".r.findAllMatchIn(src).map(_.group(1))
        .filterNot(contract).map(k => s"${main.relativize(p)}: SPARK_GRAFT_$k")
    }
    assert(knobs === Nil)
  }

  test("src/main keys state on sessions, temp paths or application ids " +
      "only in the State registry") {
    // entry points choosing a default output directory may make a temp dir
    def entryPoint(site: String) =
      (site.startsWith("graft/tools/") || site.startsWith("graft/collab/Cli.scala: ")) &&
        site.endsWith(": createTempDirectory")
    val sites = sources.flatMap { case (p, src) =>
      Seq("WeakHashMap", "java.io.tmpdir", "applicationId", "createTempDirectory")
        .filter(src.contains).map(w => s"${main.relativize(p)}: $w")
    }.filterNot(entryPoint)
    assert(sites.forall(_.startsWith("graft/State.scala: ")), sites)
    assert(sites.nonEmpty, "the registry itself must be found")
  }

  test("src/main starts a foreachBatch stream at exactly one site, in " +
      "StreamingOps") {
    val sites = sources.flatMap { case (p, src) =>
      Seq.fill("""\.foreachBatch\b""".r.findAllMatchIn(src).size)(
        main.relativize(p).toString)
    }
    assert(sites === Seq("graft/streaming/StreamingOps.scala"))
  }

  test("IndexStore defines no batch-keyed or read-bounded twin of a " +
      "writer or reader") {
    val src = Files.readString(main.resolve("graft/sources/IndexStore.scala"))
    val twins = """def \w+Versioned|def read\w+Before""".r
      .findAllMatchIn(src).map(_.matched).toList
    assert(twins === Nil)
  }
}
