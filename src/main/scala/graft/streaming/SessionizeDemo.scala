package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Runnable demo of the streaming surface: feeds a MemoryStream through
  * sessionize and shows in-batch closes vs watermark-timeout closes.
  * `sbt "runMain graft.streaming.SessionizeDemo"` */
object SessionizeDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    implicit val sql = spark.sqlContext
    import spark.implicits._

    def ev(id: Long, minute: Int, user: Long, typ: String, v: Double) =
      StreamEvent(id, new Timestamp(1700000000000L + minute * 60000L),
        user, typ, v)

    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()

    input.addData(ev(1, 0, 1, "click", 1.0), ev(2, 10, 1, "click", 2.0),
      ev(3, 130, 1, "click", 4.0))
    q.processAllAvailable()
    println("after batch 1 (user 1's first session closed by in-batch gap):")
    spark.sql("SELECT * FROM sessions ORDER BY user_id, start_ms").show(false)

    // a much later event advances the watermark past user 1's open session
    input.addData(ev(9, 1000, 2, "view", 0.5))
    q.processAllAvailable()
    input.addData(ev(10, 1001, 2, "view", 0.5))
    q.processAllAvailable()
    println("after watermark advance (user 1's second session timed out):")
    spark.sql("SELECT * FROM sessions ORDER BY user_id, start_ms").show(false)
    q.stop()

    // transformWithState: running-mean anomaly detection, state across batches
    StreamingOps.requireRocksDb(spark)
    val in2 = MemoryStream[StreamEvent]
    val q2 = StreamingOps.anomalies(in2.toDS(), factor = 3.0, warmup = 3)
      .writeStream.format("memory").queryName("anomalies")
      .outputMode(OutputMode.Append()).start()
    in2.addData(ev(1, 0, 1, "m", 10.0), ev(2, 1, 1, "m", 10.0), ev(3, 2, 1, "m", 10.0))
    q2.processAllAvailable()
    in2.addData(ev(4, 3, 1, "m", 100.0), ev(5, 4, 1, "m", 11.0))
    q2.processAllAvailable()
    println("anomaly verdicts (value 100 vs running mean 10 from batch 1):")
    spark.sql("SELECT * FROM anomalies ORDER BY event_id").show(false)
    q2.stop()

    spark.stop()
  }
}
