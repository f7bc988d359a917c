package graft.tools

import org.apache.spark.sql.functions.col
import graft.collab.{ParquetTableStore, Rating, Schemas}

/** Runnable demo of the graft DataSource V2: store round-trip read via
  * `spark.read.format("graft")` incl. pushdown evidence and the
  * missing-option error. `sbt "runMain graft.tools.StoreSourceDemo"` */
object StoreSourceDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val store = new ParquetTableStore(spark, root)
    store.create(Schemas.RatingsTable, Schemas.ratingSchema)
    store.append(Schemas.RatingsTable,
      (1 to 100).map(i => Rating(i, i % 5, i / 10.0)).toDF())

    val df = spark.read.format("graft")
      .option("root", root).option("table", Schemas.RatingsTable).load()
    println(s"read rows=${df.count()} cols=${df.columns.mkString(",")}")

    val filtered = df.filter(col("user") > 90).select("user", "rating")
    val pushed = filtered.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PushedFilters")).getOrElse("?")
    println(s"rows(user>90)=${filtered.count()}")
    println(s"pushdown: ${pushed.trim.take(100)}")

    val err = try { spark.read.format("graft").load(); "none" }
      catch { case e: Exception => e.getMessage.take(60) }
    println(s"missing-options error: $err")
    spark.stop()
  }
}
