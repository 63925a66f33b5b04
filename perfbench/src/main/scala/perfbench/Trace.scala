package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side half of the traced run: Spark jobs, stages and task
  * metrics from a `SparkListener`, Catalyst phase times from a
  * `QueryExecutionListener`. Events are buffered until [[take]], which the
  * benchmark calls after draining the listener bus at the end of a query.
  * All timestamps are epoch milliseconds, the clock Spark stamps events
  * with.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  private val phases = ArrayBuffer.empty[Phase]
  private var tasks = TaskTotals()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs += Job(e.jobId, e.time, -1L, e.stageIds, e.stageInfos.map(_.name).mkString(";"))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      val i = jobs.indexWhere(_.id == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val s = e.stageInfo
      for (a <- s.submissionTime; b <- s.completionTime) stages(s.stageId) = (a, b)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks = tasks.add(e.taskInfo.duration, m)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) => phases += Phase(name, p.startTimeMs, p.endTimeMs) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    take(): Unit
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Everything recorded since the last call; the caller drains first. */
  def take(): Events = synchronized {
    val ev = Events(jobs.toSeq, stages.toMap, phases.toSeq, tasks)
    jobs.clear(); stages.clear(); phases.clear(); tasks = TaskTotals()
    ev
  }
}

object Trace {
  final case class Job(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int], stageNames: String)
  final case class Phase(name: String, startMs: Long, endMs: Long)

  final case class TaskTotals(
      tasks: Long = 0, durationMs: Long = 0, runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
      inputBytes: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
      spillBytes: Long = 0, peakTaskMem: Long = 0) {
    def add(durMs: Long, m: org.apache.spark.executor.TaskMetrics): TaskTotals = TaskTotals(
      tasks + 1, durationMs + durMs, runMs + m.executorRunTime, cpuNs + m.executorCpuTime,
      gcMs + m.jvmGCTime, inputBytes + m.inputMetrics.bytesRead,
      shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes + m.diskBytesSpilled, math.max(peakTaskMem, m.peakExecutionMemory))
  }

  final case class Events(jobs: Seq[Job], stages: Map[Int, (Long, Long)], phases: Seq[Phase],
                          tasks: TaskTotals)

  /** Span kinds, one per layer of a query's wall time. */
  val Kinds: Seq[String] = Seq("query", "declare", "execute", "catalyst", "job", "stage")

  /** Layer profile of one query, from its benchmark-side timestamps (epoch
    * ns: query start, end of declaration, end of the write) and the events
    * its execution caused.
    */
  final case class Profile(
      wallS: Double, declareS: Double, declareJobs: Int, jobs: Int, stages: Int, jobS: Double,
      tablesJobs: Int, tablesS: Double, phaseS: Map[String, Double], catalystQueries: Int,
      selfS: Map[String, Double], tasks: TaskTotals)

  def profile(t0: Long, t1: Long, t2: Long, ev: Events): Profile = {
    import Stats.Span
    val spans = ArrayBuffer(Span(0, -1, "query", t0, t2), Span(1, 0, "declare", t0, t1),
      Span(2, 0, "execute", t1, t2))
    var next = 3
    def add(parent: Int, kind: String, a: Long, b: Long): Int = {
      spans += Span(next, parent, kind, a, b); next += 1; next - 1
    }
    def under(ms: Long): Int = if (ms * 1000000L < t1) 1 else 2
    val done = ev.jobs.filter(_.endMs >= 0)
    done.foreach { j =>
      val id = add(under(j.startMs), "job", j.startMs * 1000000L, j.endMs * 1000000L)
      j.stageIds.flatMap(ev.stages.get).foreach { case (a, b) => add(id, "stage", a * 1000000L, b * 1000000L) }
    }
    ev.phases.foreach(p => add(under(p.startMs), "catalyst", p.startMs * 1000000L, p.endMs * 1000000L))
    val self = Stats.selfTimes(spans.toSeq, 0)
    val kindOf = spans.map(s => s.id -> s.kind).toMap
    val selfS = self.groupBy { case (id, _) => kindOf(id) }.map { case (k, v) => k -> v.values.sum / 1e9 }
    val tables = done.filter(_.stageNames.contains("Tables.scala"))
    Profile(
      wallS = (t2 - t0) / 1e9, declareS = (t1 - t0) / 1e9,
      declareJobs = done.count(j => under(j.startMs) == 1), jobs = done.size,
      stages = done.map(_.stageIds.count(ev.stages.contains)).sum,
      jobS = done.map(j => j.endMs - j.startMs).sum / 1e3,
      tablesJobs = tables.size, tablesS = tables.map(j => j.endMs - j.startMs).sum / 1e3,
      phaseS = ev.phases.groupBy(_.name).map { case (k, ps) => k -> ps.map(p => p.endMs - p.startMs).sum / 1e3 },
      catalystQueries = ev.phases.map(p => p.name).count(_ == "analysis"),
      selfS = Kinds.map(k => k -> selfS.getOrElse(k, 0.0)).toMap, tasks = ev.tasks)
  }
}
