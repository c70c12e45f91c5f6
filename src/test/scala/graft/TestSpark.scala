package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** What `f` ran on Spark: the jobs it started and the SQL executions it
    * finished, in order.
    */
  final case class Traced[A](result: A, jobs: Seq[SparkListenerJobStart],
      queries: Seq[QueryExecution])

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
      Traced(out, jobs.asScala.toSeq, queries.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(queryListener)
      sc.removeSparkListener(jobListener)
    }
  }
}
