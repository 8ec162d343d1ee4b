package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced runs only: Spark's own scheduler and query-execution events,
  * rolled up per job. Nothing is added to the program — a job is
  * attributed to the repo module of the innermost `graft.<module>` frame
  * in its result stage's call site (`StageInfo.details`), or in its SQL
  * execution's call site when the job was submitted off the caller's
  * thread. */
final class Ledger extends SparkListener {
  import Ledger._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val plans = mutable.ArrayBuffer[(Long, Long)]() // (start ms, planning ms)
  private val execFrames = mutable.HashMap[Long, Seq[String]]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execFrames(s.executionId) = lines(s.details)
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val own = lines(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse(""))
    // adaptive execution submits shuffle stages from a pool thread whose
    // stack never reaches the program: use the call site of the SQL
    // execution the job belongs to instead
    val frames =
      if (innermostGraft(own).isDefined) own
      else Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => execFrames.get(id.toLong)).getOrElse(own)
    // a micro-batch job's call site is where its stream was started, so
    // stream membership is read from the job's own properties instead
    val streaming = Option(e.properties).exists(_.getProperty(StreamingQueryKey) != null)
    jobs(e.jobId) = Job(e.time, if (streaming) "streaming" else module(frames),
      barrier = innermostGraft(frames).exists(_.startsWith("graft.core.Barriers")),
      par = frames.exists(_.startsWith("graft.core.Par")))
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (id <- stageJob.get(si.stageId); j <- jobs.get(id)) {
      j.stages += 1
      j.tasks += si.numTasks
      Option(si.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Ledger.this.synchronized {
        plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
  }

  /** Every job so far, after the listener bus has drained. */
  def snapshot(spark: SparkSession): Map[String, Any] = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    synchronized {
      Map(
        "jobs" -> jobs.values.map(j => Seq(j.start, j.end, j.module, j.barrier, j.par,
          j.stages, j.tasks, j.taskMs, j.shuffleWrite, j.spill, j.input)).toSeq,
        "plans" -> plans.toSeq)
    }
  }
}

object Ledger {
  /** Local property Spark sets on every job of a streaming query. */
  private val StreamingQueryKey = "sql.streaming.queryId"

  final case class Job(start: Long, module: String, barrier: Boolean, par: Boolean) {
    var end: Long = -1L
    var stages = 0
    var tasks = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
  }

  private def lines(details: String): Seq[String] =
    details.linesIterator.map(_.trim).toSeq

  private def innermostGraft(frames: Seq[String]): Option[String] =
    frames.find(f => f.startsWith("graft.") && !f.startsWith("graft.perfbench."))

  /** `graft.<module>.X.f(...)` → module; a frame of a top-level `graft`
    * object → "graft"; jobs whose call site reaches the program only
    * through this benchmark (the timed noop write, the index reader) are
    * query execution; no graft frame at all → "spark". */
  def module(frames: Seq[String]): String =
    innermostGraft(frames) match {
      case Some(f) =>
        val parts = f.split('.')
        if (parts.length > 2 && parts(1).headOption.exists(_.isLower)) parts(1) else "graft"
      case None if frames.exists(_.startsWith("graft.perfbench.")) => "queries"
      case None => "spark"
    }
}
