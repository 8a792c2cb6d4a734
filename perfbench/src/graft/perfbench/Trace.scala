package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of the traced run. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, layer: String, op: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

object Span {
  /** Per-layer self time: each span's duration minus the part of it that
    * its children cover. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.layer) { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
      s.ms - unionLength(kids)
    }(_ + _)
  }

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: (Double, Double) = null
    for ((a, b) <- iv.sortBy(_._1)) {
      if (cur == null || a > cur._2) {
        if (cur != null) total += cur._2 - cur._1
        cur = (a, b)
      } else if (b > cur._2) cur = (cur._1, b)
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }
}

/** Listens to Spark's public listener APIs and keeps what one traced
  * operation caused: its jobs (tied to the operation by the local
  * properties the benchmark sets before each call), their stages and
  * tasks, and the planning phases of every query execution. The
  * benchmark drains the listener bus after each traced operation and
  * [[take]]s the events, so every event belongs to exactly one op. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.ArrayBuffer[Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val plans = mutable.ArrayBuffer[Phase]()
  private val jobEnds = mutable.Map[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs += Job(e.jobId, prop(OpKey), prop(PhaseKey), e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnds(e.jobId) = e.time }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, stageJob.getOrElse(i.stageId, -1), i.name,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        sr.localBlocksFetched + sr.remoteBlocksFetched, sr.fetchWaitTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    for ((name, p) <- qe.tracker.phases if name != "parsing")
      plans += Phase(name, p.startTimeMs, p.endTimeMs)
  }

  /** Everything recorded since the previous call. */
  def take(): Events = synchronized {
    val ev = Events(jobs.map(j => j.copy(end = jobEnds.getOrElse(j.id, j.start))).toSeq,
      stages.toSeq, tasks.toSeq, plans.toSeq)
    jobs.clear(); stages.clear(); tasks.clear(); plans.clear(); jobEnds.clear()
    ev
  }
}

object Tracer {
  /** Local properties that tie a Spark job to the benchmark operation and
    * phase (build or exec) that launched it. */
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  final case class Job(id: Int, op: String, phase: String, start: Long, end: Long = 0L)
  final case class Stage(id: Int, job: Int, name: String, submitted: Long, completed: Long)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                        shuffleWriteBytes: Long, blocksFetched: Long, fetchWaitMs: Long,
                        bytesRead: Long, recordsRead: Long, spillDiskBytes: Long)
  final case class Phase(name: String, start: Long, end: Long)
  final case class Events(jobs: Seq[Job], stages: Seq[Stage], tasks: Seq[Task], plans: Seq[Phase])
}
