package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** A span: a named interval at a layer boundary, with the span that caused
  * it. Times are epoch milliseconds with sub-millisecond digits.
  */
final case class Span(id: String, parent: String, name: String, kind: String,
                      startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def toJson: String = Json(Map("id" -> id, "parent" -> parent, "name" -> name,
    "kind" -> kind, "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs))
}

/** Wall clock with nanosecond steps, aligned once to epoch milliseconds so
  * harness spans line up with Spark's listener event times.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def nowMs: Double = ms(System.nanoTime())
}

/** Task-level counters summed over a set of stages. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L

  def add(o: TaskTotals): Unit = {
    tasks += o.tasks; runMs += o.runMs; schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill; input += o.input
  }
}

final case class JobRec(id: Int, label: String, batchId: Option[Long], startMs: Long,
                        stageIds: Seq[Int], var endMs: Long = -1L, var stagesRun: Int = 0)

/** Spark listener of the traced run: records every job with the label the
  * harness set on the submitting thread (`perfbench.span`) or the streaming
  * micro-batch id, and sums task metrics per stage. Listener callbacks run
  * on Spark's listener-bus thread; readers call [[drain]] first.
  */
final class ExecTracer(sc: org.apache.spark.SparkContext) extends SparkListener {
  val LabelKey = "perfbench.span"
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stageTotals = mutable.HashMap[Int, TaskTotals]()
  private val stagesDone = mutable.HashSet[Int]()
  private val sqlExecs = mutable.LinkedHashMap[Long, (Long, Long)]()
  @volatile private var lastEventNs = System.nanoTime()

  def label(l: String): Unit = sc.setLocalProperty(LabelKey, l)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val props = Option(e.properties)
    val label = props.flatMap(p => Option(p.getProperty(LabelKey))).getOrElse("")
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    jobs(e.jobId) = JobRec(e.jobId, label, batch, e.time, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val id = e.stageInfo.stageId
    if (stagesDone.add(id)) stageJob.get(id).flatMap(jobs.get).foreach(_.stagesRun += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val m = e.taskMetrics
    if (m != null) {
      val t = stageTotals.getOrElseUpdate(e.stageId, new TaskTotals)
      val info = e.taskInfo
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      // Scheduler delay as Spark's own UI derives it.
      t.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    lastEventNs = System.nanoTime()
    e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        sqlExecs(s.executionId) = (s.time, -1L)
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        sqlExecs.get(x.executionId).foreach { case (st, _) => sqlExecs(x.executionId) = (st, x.time) }
      case _ => ()
    }
  }

  /** [start, end] of the SQL executions that started inside the interval. */
  def sqlExecutionsIn(fromMs: Double, toMs: Double): Seq[(Long, Long)] = synchronized {
    sqlExecs.values.filter { case (st, en) => en >= 0 && st >= fromMs - 1 && st <= toMs }.toList
  }

  /** Wait until every job has ended and the bus has been quiet for a
    * moment, so the counters cover all work submitted so far.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def settled = synchronized(jobs.values.forall(_.endMs >= 0)) &&
      System.nanoTime() - lastEventNs > 200L * 1000 * 1000
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def jobsWhere(p: JobRec => Boolean): Seq[JobRec] = synchronized {
    jobs.values.filter(p).toList
  }

  def totals(js: Seq[JobRec]): TaskTotals = synchronized {
    val t = new TaskTotals
    js.foreach(j => j.stageIds.foreach(s => stageTotals.get(s).foreach(t.add)))
    t
  }
}

/** Spans kept in memory and written out when the run ends. */
final class SpanLog {
  private val spans = mutable.ArrayBuffer[Span]()
  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized { spans.toList }
  def write(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      all.map(_.toJson).mkString("", "\n", "\n"))
}

/** Execution-layer metrics over a set of jobs, the same for both kinds. */
object ExecMetrics {
  def apply(tr: ExecTracer, js: Seq[JobRec], cores: Int, per: Double): Map[String, Double] = {
    val t = tr.totals(js)
    val execS = Stats.unionLength(js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))) / 1000.0
    val mb = 1024.0 * 1024.0
    Map(
      "exec_s" -> execS / per,
      "jobs" -> js.size / per,
      "stages" -> js.map(_.stagesRun).sum / per,
      "tasks" -> t.tasks / per,
      "sched_delay_s" -> t.schedDelayMs / 1000.0 / per,
      "task_busy_s" -> t.runMs / 1000.0 / per,
      "core_util" -> Stats.ratio(t.runMs / 1000.0, execS * cores),
      "shuffle_read_mb" -> t.shuffleRead / mb / per,
      "shuffle_write_mb" -> t.shuffleWrite / mb / per,
      "spill_mb" -> t.spill / mb / per,
      "input_mb" -> t.input / mb / per,
      "gc_s" -> t.gcMs / 1000.0 / per)
  }
}
