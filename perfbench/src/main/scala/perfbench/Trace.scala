package perfbench

import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval around a call into a layer. Times are epoch
  * milliseconds with sub-millisecond precision, on the same clock as
  * Spark's listener events.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double])

/** Spans are kept in memory and written once when the run ends. The
  * benchmark has a single caller thread, so the open-span stack needs no
  * locking.
  */
final class Spans(val runId: String) {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  private val done = mutable.ArrayBuffer.empty[Span]
  private final class Open(val id: Int, val name: String, val parent: Int,
      val startMs: Double) {
    val attrs = mutable.LinkedHashMap.empty[String, Double]
  }
  private var stack = List.empty[Open]
  private var nextId = 1

  def span[A](name: String)(f: => A): A = {
    val o = new Open(nextId, name, stack.headOption.map(_.id).getOrElse(0), nowMs)
    nextId += 1
    stack = o :: stack
    try f
    finally {
      stack = stack.tail
      done += Span(o.id, o.name, o.parent, runId, o.startMs, nowMs, o.attrs.toMap)
    }
  }

  /** attach a count to the innermost open span. */
  def note(key: String, value: Double): Unit =
    stack.headOption.foreach(_.attrs(key) = value)

  def all: Seq[Span] = done.toSeq
}

/** Counts Spark work from outside the engine: jobs with their SQL
  * execution, per-stage task aggregates, and each SQL execution's
  * description (the engine call site, e.g. `parquet at FrontierStore.scala:262`).
  * Registered only for the traced leg of a run.
  */
final class SparkEvents extends SparkListener {
  import SparkEvents._

  final class StageAgg {
    var tasks = 0L; var failed = 0L; var busyMs = 0L
    var shuffleWrite = 0L; var spill = 0L
    var inputRecords = 0L
  }

  private val jobStart = mutable.HashMap.empty[Int, (Long, Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val executions = mutable.HashMap.empty[Long, (String, Long)]
  private val syncJobs = mutable.HashMap.empty[String, Int]
  private val finished = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    props.flatMap(p => Option(p.getProperty(SparkEvents.SyncKey)))
      .foreach(t => syncJobs(t) = e.jobId)
    jobStart(e.jobId) = (e.time, exec, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, exec, st) =>
      jobs += Job(e.jobId, t0, e.time, exec, st)
    }
    finished += e.jobId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.reason != Success) a.failed += 1
    Option(e.taskMetrics).foreach { m =>
      a.busyMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId) =
        (s.description, s.rootExecutionId.getOrElse(s.executionId))
    }
    case _ =>
  }

  /** Block until every event posted before this call has been delivered:
    * events of one listener arrive in order, so once a marker job's end
    * is seen, everything earlier has been seen too.
    */
  def drain(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(SparkEvents.SyncKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SparkEvents.SyncKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    def seen: Boolean = synchronized(syncJobs.get(token).exists(finished.contains))
    while (!seen && System.nanoTime() < deadline) Thread.sleep(5)
    require(seen, "Spark listener events were not delivered within 60 s")
    synchronized { syncJobs.get(token).foreach(id => jobs.filterInPlace(_.id != id)) }
  }

  def json: String = synchronized {
    val js = jobs.sortBy(_.id).map(j => Json.obj(
      "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "exec" -> j.execId, "stages" -> j.stageIds))
    val ss = stages.toSeq.sortBy(_._1).map { case (id, a) => Json.obj(
      "id" -> id, "tasks" -> a.tasks, "failed" -> a.failed, "busy_ms" -> a.busyMs,
      "shuffle_write" -> a.shuffleWrite,
      "spill" -> a.spill, "input_records" -> a.inputRecords) }
    val es = executions.toSeq.sortBy(_._1).map { case (id, (d, root)) =>
      Json.obj("id" -> id, "root" -> root, "description" -> d) }
    Json.obj("jobs" -> Json.raw(Json.arr(js)), "stages" -> Json.raw(Json.arr(ss)),
      "executions" -> Json.raw(Json.arr(es)))
  }
}

object SparkEvents {
  val SyncKey = "perfbench.sync"

  final case class Job(id: Int, startMs: Long, endMs: Long, execId: Long,
      stageIds: Seq[Int])
}
