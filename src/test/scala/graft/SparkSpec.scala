package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared hermetic local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String, dir: String = "/root/testdata/sf0.001") =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Run the stream `sink` starts over a MemoryStream fed `batches`, one
    * micro-batch each, so the stream's batch ids are 0, 1, …; then stop
    * it. */
  def runSink(batches: DataFrame*)(sink: DataFrame => StreamingQuery): Unit = {
    val input = MemoryStream[Row](Encoders.row(batches.head.schema),
      spark.sqlContext)
    val q = sink(input.toDF())
    try batches.foreach { b =>
      input.addData(b.collect().toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** Every row of the parquet output under `path`, as sorted strings. */
  def rowsUnder(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
