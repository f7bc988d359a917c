package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for every `src/main` entry point (Bench,
  * Verify, the collab CLI, the demos and tools): `local[$SPARK_GRAFT_CPUS]`
  * (default 4, the Bench/Verify shape), shuffle partitions equal to the
  * core count, UTC session time zone, UI off, WARN logging. A setting only
  * one caller needs is set by that caller on the built session
  * (`spark.conf.set`), never added here. Test sessions are built by the
  * specs' own `SparkSpec`. */
object Session {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
