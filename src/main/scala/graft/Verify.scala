package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names, for fast local
    // iteration on a subset (the driver always passes two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    // Opt-in warmup (SPARK_GRAFT_WARMUP=1): build the standing artifacts
    // (indexes, BPE merges, curation verdicts) BEFORE the timed loop, so
    // the [verify-time] lines tools/scalecheck.py turns into scale ratios
    // measure the steady-state probe cost — a deployment indexes once and
    // probes forever — instead of charging whichever query runs first
    // with the one-off build (same rationale as Bench's warmup list).
    // Correctness output is identical either way; the driver's own gate
    // runs without the env and is unaffected.
    if (sys.env.get("SPARK_GRAFT_WARMUP").contains("1"))
      for (w <- SparkEntry.warmupQueries)
        SparkEntry.queries.get(w).foreach { fn =>
          try fn(spark, sfDir).count() catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[verify] warmup $w failed: ${e.getMessage}")
          }
        }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query wall time, parsed by tools/scalecheck.py for its
        // base→replica scale-ratio report (stdout, fixed prefix)
        println(f"[verify-time] $name ${(System.nanoTime() - t0) / 1e9}%.3f")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** The query name → DuckDB SQL map as one JSON object. Jackson escapes
    * every control char, so a tab or CR in builder-authored SQL cannot
    * make the oracle gate's json.load fail. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    new ObjectMapper().writeValueAsString(sql.asJava)
}
