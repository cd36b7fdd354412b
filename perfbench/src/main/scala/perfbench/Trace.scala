package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracing: a SparkListener plus a QueryExecutionListener,
  * both public Spark APIs, attached only in traced passes. Jobs are
  * attributed to the op through the `perfbench.op` local property the
  * harness sets around each op; stages and tasks follow their job;
  * query executions are attributed to every op in whose window one of
  * their Catalyst phases started (ops run one at a time on one thread). */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = mutable.Map[Int, JobRec]()
  private val stageOp = mutable.Map[Int, JobRec]()
  private val plans = mutable.ArrayBuffer[PlanRec]()
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(OpKey))).getOrElse("")
    val phase = p.flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("")
    val j = JobRec(op, phase, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageOp(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    stageOp.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    for (j <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = j.tasks
      t.n += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.inBytes += m.inputMetrics.bytesRead
      t.inRows += m.inputMetrics.recordsRead
      t.shWrite += m.shuffleWriteMetrics.bytesWritten
      t.shRead += m.shuffleReadMetrics.totalBytesRead
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      // the UI's "scheduler delay": task time not spent running,
      // deserializing, serializing or fetching the result
      val info = e.taskInfo
      val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      t.delayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch)
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    touch()
    val ph = qe.tracker.phases
    def phase(n: String): (Long, Long) =
      ph.get(n).map(p => (p.startTimeMs, p.endTimeMs)).getOrElse((0L, 0L))
    plans += PlanRec(phase("analysis"), phase("optimization"), phase("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Blocks until every started job has ended and no event arrived for
    * `quietMs` — the listener bus delivers asynchronously. */
  def drain(quietMs: Long = 300L, maxMs: Long = 30000L): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def busy = synchronized(jobs.values.exists(_.end < 0))
    while (System.nanoTime() < deadline &&
      (busy || System.nanoTime() - lastEventNs < quietMs * 1000000L)) Thread.sleep(20)
  }

  /** The listener events attributed to one op, as recorded: its jobs
    * (by the op property, whatever their times) with their task
    * totals, and the query executions with a Catalyst phase that
    * started inside the op's window. `metrics.py` derives the op's
    * per-layer figures from them and reconciles those with its wall
    * time. */
  def events(op: OpSample): Map[String, Any] = synchronized {
    val js = jobs.values.filter(_.op == op.id).toSeq.sortBy(_.start).map { j =>
      val t = j.tasks
      Map("phase" -> j.phase, "start_ms" -> j.start, "end_ms" -> j.end, "stages" -> j.stages,
        "tasks" -> t.n, "cpu_ns" -> t.cpuNs, "gc_ms" -> t.gcMs, "in_bytes" -> t.inBytes,
        "in_rows" -> t.inRows, "shuffle_write_bytes" -> t.shWrite,
        "shuffle_read_bytes" -> t.shRead, "fetch_wait_ms" -> t.fetchWaitMs,
        "spill_bytes" -> t.spill, "delay_ms" -> t.delayMs)
    }
    def startsIn(iv: (Long, Long)) = iv._2 > 0 && iv._1 >= op.startMs - 1 && iv._1 <= op.endMs + 1
    val ps = plans.filter(p => Seq(p.analysis, p.optimization, p.planning).exists(startsIn)).map { p =>
      Map("analysis" -> Seq(p.analysis._1, p.analysis._2),
        "optimization" -> Seq(p.optimization._1, p.optimization._2),
        "planning" -> Seq(p.planning._1, p.planning._2))
    }
    Map("jobs" -> js, "plans" -> ps.toSeq)
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  final class Tasks {
    var n, cpuNs, gcMs, inBytes, inRows, shWrite, shRead, fetchWaitMs, spill, delayMs = 0L
  }
  final case class JobRec(op: String, phase: String, start: Long) {
    var end: Long = -1L
    var stages: Int = 0
    val tasks = new Tasks
  }
  final case class PlanRec(analysis: (Long, Long), optimization: (Long, Long), planning: (Long, Long))
}
