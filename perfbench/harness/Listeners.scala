package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Executor and scheduler totals through Spark's public `SparkListener`.
  *
  * Every job carries the local property `perfbench.tag` of the thread that
  * launched it (the query name, or "stream" for micro-batch jobs), and task
  * metrics are summed per tag. Job intervals are kept whole so the Python
  * side can take their union, not their sum. */
final class ExecListener extends SparkListener {
  final class Totals {
    var tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, recordsRead = 0L
    def json: String = Json.obj(Seq(
      "tasks" -> tasks.toString, "run_ms" -> runMs.toString, "cpu_ns" -> cpuNs.toString,
      "gc_ms" -> gcMs.toString, "shuffle_read_bytes" -> shuffleRead.toString,
      "shuffle_write_bytes" -> shuffleWrite.toString, "spill_bytes" -> spill.toString,
      "records_read" -> recordsRead.toString))
  }
  private val stageTag = mutable.Map.empty[Int, String]
  private val jobs = mutable.LinkedHashMap.empty[Int, (String, Long, Long)]
  private val totals = mutable.LinkedHashMap.empty[String, Totals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.tag"))).getOrElse("?")
    jobs(e.jobId) = (tag, e.time, -1L)
    e.stageIds.foreach(stageTag(_) = tag)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (t, s, _) => jobs(e.jobId) = (t, s, e.time) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.getOrElseUpdate(stageTag.getOrElse(e.stageId, "?"), new Totals)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
      t.recordsRead += m.inputMetrics.recordsRead
    }
  }

  def jobCount: Int = synchronized(jobs.size)

  def jobsJson: String = synchronized(Json.arr(jobs.map { case (id, (tag, s, e)) =>
    Json.arr(Seq(id.toString, Json.num(Clock.fromEpoch(s)),
      if (e < 0) "null" else Json.num(Clock.fromEpoch(e)), Json.str(tag)))
  }))
  def totalsJson: String = synchronized(Json.obj(totals.map { case (k, v) => k -> v.json }))
}

/** Query planning phases (analysis, optimization, planning) from
  * `QueryExecution.tracker`, through the public `QueryExecutionListener`. */
final class PlanningListener extends QueryExecutionListener {
  private val phases = new ConcurrentLinkedQueue[String]()
  private def record(qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases.values
    if (ps.nonEmpty) phases.add(Json.arr(Seq(
      Json.num(Clock.fromEpoch(ps.map(_.startTimeMs).min)),
      Json.num(Clock.fromEpoch(ps.map(_.endTimeMs).max)),
      ps.map(_.durationMs).sum.toString)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  def json: String = Json.arr(phases.asScala)
}

/** Every `StreamingQueryProgress`, kept as Spark's own JSON. */
final class ProgressListener extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[String]()
  @volatile var lastBatchId = -1L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress.json)
    lastBatchId = e.progress.batchId
  }
  def json: String = Json.arr(progress.asScala)
}
