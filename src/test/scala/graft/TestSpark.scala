package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** the writer of each parquet file in a table dir, as its name tells: a
    * Spark task of `SnapshotTable` (`task`, `part-<partition>-task-<attempt>-…`),
    * the driver (`driver`, `part-00000-driver-…`), or another writer (the
    * whole name).
    */
  def writtenBy(dir: String): Seq[String] = new java.io.File(dir).list().toSeq.sorted
    .filter(_.endsWith(".parquet")).map(f => if (f.contains("-task-")) "task" else
      if (f.startsWith("part-00000-driver-")) "driver" else f)

  /** What `f` ran on Spark: the jobs it started and the SQL executions it
    * finished, in order, the ids of the stages it ran (a job's stage that
    * is not among them was skipped), the rows its tasks read from input
    * files and the bytes of task results they sent to the driver.
    * `descriptions` maps each SQL execution to the description of its root
    * execution: the engine call site of the action, e.g.
    * `collect at CrawlLoop.scala:249`.
    */
  final case class Traced[A](result: A, jobs: Seq[SparkListenerJobStart],
      queries: Seq[QueryExecution], descriptions: Map[Long, String],
      stagesRun: Set[Int], rowsRead: Long, resultBytes: Long) {
    /** the action a job belongs to, or None outside any SQL execution. AQE
      * names its map-stage jobs after a JDK frame, so stage names cannot
      * tell which action started a job; its SQL execution can.
      */
    def actionOf(job: SparkListenerJobStart): Option[String] =
      Option(job.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => descriptions.get(id.toLong))

    /** the jobs of every action whose description starts with `prefix`. */
    def jobsOf(prefix: String): Seq[SparkListenerJobStart] =
      jobs.filter(actionOf(_).exists(_.startsWith(prefix)))
  }

  private val FenceKey = "graft.test.fence"

  /** Listener events arrive asynchronously, so a marker job fences each end
    * of `f`: events queued before the opening marker are ignored, and once
    * the closing marker is seen every earlier event has been delivered (the
    * SQL execution listeners share the listener queue).
    */
  def traced[A](f: => A): Traced[A] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    // execution id -> (description, root execution id)
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val rowsRead = new java.util.concurrent.atomic.AtomicLong
    val resultBytes = new java.util.concurrent.atomic.AtomicLong
    val (open, close) = (java.util.UUID.randomUUID().toString, java.util.UUID.randomUUID().toString)
    @volatile var recording = false
    val closed = new java.util.concurrent.CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(FenceKey))) match {
          case Some(`open`) => recording = true
          case Some(`close`) => recording = false; closed.countDown()
          case _ => if (recording) jobs.add(e)
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (recording) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (recording) Option(e.taskMetrics).foreach { m =>
          rowsRead.addAndGet(m.inputMetrics.recordsRead)
          resultBytes.addAndGet(m.resultSize)
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId,
            (s.description, s.rootExecutionId.getOrElse(s.executionId)))
        case _ =>
      }
    }
    val queryListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (recording) queries.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def fence(token: String): Unit = {
      sc.setLocalProperty(FenceKey, token)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FenceKey, null)
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    try {
      fence(open)
      val out = f
      fence(close)
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "Spark listener events were not delivered within 60 s")
      import scala.jdk.CollectionConverters._
      val described = executions.asScala.toMap
      val roots = described.map { case (id, (_, root)) =>
        id -> described.get(root).fold("")(_._1) }
      Traced(out, jobs.asScala.toSeq, queries.asScala.toSeq, roots, stages.asScala.toSet,
        rowsRead.get, resultBytes.get)
    } finally {
      spark.listenerManager.unregister(queryListener)
      sc.removeSparkListener(jobListener)
    }
  }
}
