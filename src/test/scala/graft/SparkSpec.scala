package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Run `body` with `listener` attached, and return once the listener has
    * seen every event `body` caused. Listener events arrive asynchronously
    * but in order, so a marker job started after `body` fences them; the
    * listener sees that job too, tagged [[SparkSpec.isFence]]. */
  def fenced[A](listener: SparkListener)(body: => A): A = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.CountDownLatch(1)
    val fence = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (SparkSpec.isFence(e)) seen.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(fence)
    try {
      val out = body
      sc.setJobDescription(SparkSpec.Fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      out
    } finally {
      sc.removeSparkListener(fence)
      sc.removeSparkListener(listener)
    }
  }

  /** Every row of the parquet output under `path`, as sorted strings. */
  def rowsUnder(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
}

object SparkSpec {
  private val Fence = "listener-fence"
  def isFence(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(
      _.getProperty("spark.job.description") == Fence)

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
