package graft.collab

/** CLI entry (ref: CollabFilterCassandraDriver.java:33-48). The reference
  * dispatches between two byte-identical impls via args[0] ∈ {7,8} and reads
  * args[0] before its length guard; we validate first and keep a single
  * impl — the version argument is accepted and ignored for parity
  * (SURVEY §2.10 L2, §1.3).
  *
  * Usage: `Cli [csvPath] [warehouse] [modelDir]`. Without a warehouse the
  * store lives under the application's [[graft.State]] directory and is
  * deleted when the application ends.
  */
object Cli {
  def main(args: Array[String]): Unit = {
    val csvPath = args.headOption.getOrElse("src/test/resources/ratings.csv")
    val spark = graft.Session()
    try {
      val warehouse = if (args.length > 1) args(1)
        else graft.State.built(spark, "store", csvPath)(_ => ())
      val modelDir = if (args.length > 2) Some(args(2)) else None
      val result = Pipeline.run(spark, new ParquetTableStore(spark, warehouse),
        csvPath, modelDir = modelDir)
      println(result.report)
      modelDir.foreach(d => println(s"model saved to $d"))
    } finally spark.stop()
  }
}
