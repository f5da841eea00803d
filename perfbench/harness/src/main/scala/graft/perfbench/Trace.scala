package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Events of a traced run, kept in memory and written out when the run
  * ends. Jobs carry the id of the op that submitted them through the
  * SparkContext local property [[Trace.OpProperty]]; plan phases and
  * streaming batches are matched to ops by time, since their listeners
  * run on the listener bus thread. Every session reaches these
  * listeners: the SparkListener sits on the shared SparkContext bus, and
  * the SQL and streaming listeners are installed through the static
  * confs that every new session reads. */
object Trace {
  val OpProperty = "graft.perfbench.op"

  final class Job(val id: Int, val op: String, val startMs: Long,
      val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
    @volatile var ok: Boolean = false
  }

  final class StageAgg {
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val runMs = new AtomicLong
    val gcMs = new AtomicLong
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val spill = new AtomicLong
    val input = new AtomicLong
    val output = new AtomicLong
    @volatile var submitMs: Long = -1L
    @volatile var endMs: Long = -1L
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageOp = new ConcurrentHashMap[Int, String]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  /** (start ms, end ms, phase) for every planning phase of every action. */
  val phases = new ConcurrentLinkedQueue[(Long, Long, String)]()
  val queriesStarted = new AtomicLong
  /** One map per streaming micro-batch progress event. */
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

  def clear(): Unit = {
    jobs.clear(); stageOp.clear(); stages.clear(); phases.clear()
    batches.clear(); queriesStarted.set(0)
  }

  private def stage(id: Int): StageAgg = stages.computeIfAbsent(id, _ => new StageAgg)

  def jobsJson: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    Map("id" -> j.id, "op" -> j.op, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "ok" -> j.ok, "stages" -> j.stageIds)
  }

  def stagesJson: Seq[Map[String, Any]] = stages.asScala.toSeq.sortBy(_._1).map { case (id, s) =>
    Map("id" -> id, "op" -> Option(stageOp.get(id)).getOrElse(""),
      "submit_ms" -> s.submitMs, "end_ms" -> s.endMs, "tasks" -> s.tasks.get,
      "cpu_ns" -> s.cpuNs.get, "run_ms" -> s.runMs.get, "gc_ms" -> s.gcMs.get,
      "shuffle_write" -> s.shuffleWrite.get, "shuffle_read" -> s.shuffleRead.get,
      "spill" -> s.spill.get, "input" -> s.input.get, "output" -> s.output.get)
  }

  def phasesJson: Seq[Seq[Any]] = phases.asScala.toSeq.map { case (a, b, n) => Seq(a, b, n) }

  class JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, op, e.time, e.stageIds))
      e.stageIds.foreach(stageOp.put(_, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stage(e.stageInfo.stageId).submitMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stage(e.stageInfo.stageId).endMs =
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId)
      s.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs.addAndGet(m.executorCpuTime)
        s.runMs.addAndGet(m.executorRunTime)
        s.gcMs.addAndGet(m.jvmGCTime)
        s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        s.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        s.input.addAndGet(m.inputMetrics.bytesRead)
        s.output.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  private def recordPlan(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add((p.startTimeMs, p.endTimeMs, name))
    }

  /** Installed through `spark.sql.queryExecutionListeners`. */
  class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordPlan(qe)
  }

  /** Installed through `spark.sql.streaming.streamingQueryListeners`. */
  class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queriesStarted.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators
      batches.add(Map(
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "durations" -> d,
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_memory" -> st.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
