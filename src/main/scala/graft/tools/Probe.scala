package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Interleaved timer and per-job profile for registry queries: `reps`
  * passes over the comma-separated names (each query's runs are spread
  * apart, bench-shaped, not back-to-back), printing every pass's time and
  * each query's minimum. A job listener supplies the Jobs/Stages view the
  * disabled UI would: for each query's LAST pass (steady state) it prints
  * every Spark job with its duration, stage and task counts, input and
  * shuffle read/write bytes, and the gap before it (driver-side work:
  * planning, collects, fit numerics).
  * `sbt "runMain graft.tools.Probe <n1,n2,...> [sfDir] [reps]"`; sfDir
  * defaults to `$SPARK_GRAFT_SF_DIR`, as in Bench. */
object Probe {
  private final case class Job(id: Int, t0: Long, desc: String,
      var t1: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
      var input: Long = 0L, var shufRead: Long = 0L, var shufWrite: Long = 0L,
      var names: List[String] = Nil)

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq.filter(_.nonEmpty)
    val dir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("sfDir: pass it or set SPARK_GRAFT_SF_DIR"))
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Session()

    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageToJob = mutable.Map[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId, System.nanoTime(), d)
          e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(e.jobId).foreach(_.t1 = System.nanoTime())
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1
            j.tasks += si.numTasks
            j.input += si.taskMetrics.inputMetrics.bytesRead
            j.shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
            j.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
            j.names ::= si.name
          }
        }
    })

    val times = mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val lastPass = mutable.LinkedHashMap[String, (Long, Long, Seq[Job])]()
    for (r <- 1 to reps; n <- names) {
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      val t0 = System.nanoTime()
      val cnt = graft.SparkEntry.queries(n)(spark, dir).count()
      val t1 = System.nanoTime()
      times(n) = (t1 - t0) / 1e9 :: times(n)
      println(f"[pass $r] $n: ${(t1 - t0) / 1e9}%.2f s ($cnt rows)")
      if (r == reps) {
        Thread.sleep(500) // listener events arrive asynchronously
        lastPass(n) = (t0, t1, jobs.synchronized(jobs.values.toSeq))
      }
    }
    for (n <- names)
      println(f"[min] $n: ${times(n).min}%.2f s  " +
        s"(all: ${times(n).reverse.map(t => f"$t%.2f").mkString(", ")})")

    for ((n, (t0, t1, js)) <- lastPass) {
      println(s"== $n, pass $reps: ${js.size} jobs")
      var prevEnd = t0
      var jobSum = 0.0
      js.sortBy(_.t0).foreach { j =>
        val gap = (j.t0 - prevEnd) / 1e9
        val dur = (j.t1 - j.t0) / 1e9
        jobSum += dur
        prevEnd = math.max(prevEnd, j.t1)
        val d = (j.desc +: j.names.reverse).filter(_.nonEmpty)
          .mkString("; ").take(90)
        println(f"  gap ${gap}%6.3f s | job ${j.id}%3d ${dur}%6.3f s " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d " +
          f"in=${j.input / 1024}%7dK sr=${j.shufRead / 1024}%6dK " +
          f"sw=${j.shufWrite / 1024}%6dK | $d")
      }
      println(f"  job time $jobSum%.2f s of ${(t1 - t0) / 1e9}%.2f s wall; " +
        f"tail gap ${(t1 - prevEnd) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
