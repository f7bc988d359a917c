package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the traced run sees it. Byte and record counts are
  * summed over the job's finished tasks. */
final class JobRec(val id: Int, val group: String, val startMs: Long,
    val module: String, val modules: Seq[String]) {
  var endMs: Long = -1L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** One executed QueryExecution: its planning-phase time and the shape of
  * its final physical plan. */
final case class QeRec(startMs: Long, planMs: Long, exchanges: Int,
    smj: Int, bhj: Int, reused: Int, checkpointScans: Int)

/** The traced run's Spark-side recorder: a SparkListener for jobs, stages
  * and tasks, and a QueryExecutionListener for planning phases and final
  * plans. Everything is kept in memory and written out by [[Main]] at the
  * end of the run. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val qes = mutable.ArrayBuffer[QeRec]()
  private val byStage = mutable.Map[Int, JobRec]()

  private val sqlDetails = mutable.Map[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { sqlDetails(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    // the result stage carries the call site (long form = stack) of the
    // thread that submitted the job; jobs an SQL execution submits from
    // its own threads take the stack that started the execution
    val stageDetails =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val sqlStack = prop("spark.sql.execution.id")
      .flatMap(id => sqlDetails.get(id.toLong)).getOrElse("")
    val details =
      if (Recorder.modules(stageDetails).nonEmpty) stageDetails
      else if (sqlStack.nonEmpty) sqlStack else stageDetails
    val mods = Recorder.modules(details)
    val j = new JobRec(e.jobId, group, e.time,
      mods.headOption.getOrElse(Recorder.caller(details)), mods)
    jobs += j
    e.stageIds.foreach(byStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        j.spillBytes += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private def record(qe: QueryExecution, shape: Boolean): Unit = {
    val phases = qe.tracker.phases
    val planning = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get)
    if (planning.nonEmpty) {
      val c = new Recorder.Shape
      if (shape) Recorder.walk(qe.executedPlan, c)
      synchronized {
        qes += QeRec(planning.map(_.startTimeMs).min,
          planning.map(_.durationMs).sum, c.exchanges, c.smj, c.bhj,
          c.reused, c.checkpointScans)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe, shape = true)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe, shape = false)
}

object Recorder {
  final class Shape {
    var exchanges, smj, bhj, reused, checkpointScans = 0
  }

  /** Counts plan nodes of the final physical plan, descending through
    * adaptive plans, query stages and subqueries. A reused exchange counts
    * as reused, not again as an exchange. */
  def walk(p: SparkPlan, c: Shape): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, c)
      case s: QueryStageExec => walk(s.plan, c)
      case _: ReusedExchangeExec => c.reused += 1
      case other =>
        other match {
          case _: Exchange => c.exchanges += 1
          case _: SortMergeJoinExec => c.smj += 1
          case _: BroadcastHashJoinExec => c.bhj += 1
          case r: RDDScanExec if r.nodeName.contains("ExistingRDD") =>
            c.checkpointScans += 1
          case _ =>
        }
        other.children.foreach(walk(_, c))
    }
    p.subqueries.foreach(walk(_, c))
  }

  private val Frame = """graft\.((?:[a-z0-9_]+\.)*)[^(]*\(([A-Za-z0-9_]+)\.scala""".r

  /** Engine source files on a call-site stack, innermost first, each
    * named by its package under `graft` and file (`ops.Dedup`,
    * `collab.TableStore`, `SparkEntry`). Empty when no engine frame is on
    * the stack. */
  def modules(details: String): Seq[String] =
    details.split("\n").toSeq.flatMap { line =>
      Frame.findPrefixMatchOf(line.trim).map(m => m.group(1) + m.group(2))
    }.distinct

  /** Attribution of a job with no engine frame: the benchmark's own
    * consume, or an engine-internal thread (broadcasts, subquery prep). */
  def caller(details: String): String =
    if (details.contains("perfbench.")) "bench.consume" else "engine.async"
}
