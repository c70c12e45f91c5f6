import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import graft.corpus.SyntheticCorpus
import graft.crawl.CrawlSession
import graft.model._
import graft.model.Extraction.SpanText

/** Phase timers of a small Default round on the perfbench `crawl_rounds`
  * shape (2,000 pages, 8 hosts, 48 seeds, host budget 2, robots on,
  * redirect and error pages): two sessions of up to 60 rounds in one
  * local[4] JVM. Per round, from a SparkListener's job, stage and SQL
  * execution times around `runRound()`: the wall time, the driver time
  * before the SQL execution starts (`pre_action_ms`) and before the job
  * starts (`plan_bind_ms`), the job (`job_ms`: the map stage and the
  * writer stage), and the driver time after the job (`commit_ms`).
  *
  *   sbt 'set Compile/unmanagedSourceDirectories += file("plans/pr23/probe")' \
  *     'runMain PhaseProbe <out.csv> <seed> [<plan dir> [template]]'
  *
  * With a plan dir it writes the executed plan of session 1's round 20
  * (`bound.txt`) and, with `template`, the session's planned fused round
  * (`template.txt`, read by reflection from private fields).
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val out = args(0); val seed = args.lift(1).map(_.toLong).getOrElse(1L)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val Pages = 2000L; val Hosts = 8
    val builder = SyntheticCorpus.Builder(n = Pages, seed = seed, hostCount = Hosts, redirectEvery = 53, errorEvery = 41)
    val cdf = SyntheticCorpus.zipfCdf(Hosts, builder.zipfS)
    val r = new java.util.Random(SyntheticCorpus.mix64(seed ^ 0x5eedL))
    val seeds = Iterator.continually(math.floorMod(r.nextLong(), Pages)).distinct.take(48).toSeq.sorted
      .map(i => UrlOps.canonicalize(SyntheticCorpus.urlOf(i, SyntheticCorpus.hostOfDoc(i, seed, cdf))))
    val corpus = builder.corpus(spark).toDF().persist(StorageLevel.MEMORY_AND_DISK)
    val robots = builder.robots(spark).toDF().persist()
    corpus.count(); robots.count()
    val cfg = CrawlConfig(sessionId = "s", seeds = seeds, maxAccessCount = Long.MaxValue,
      hostBudgetPerRound = 2, robotsTxt = true, mode = WriteMode.Default,
      rules = Seq(ScrapingRule(urlPattern = ".*/page/.*", properties = Seq(
        PropertyRule("title", SpanText("title"), trimSpaces = true),
        PropertyRule("body", SpanText("p"), isArray = true, trimSpaces = true)))))
    case class Ev(kind: String, id: Int, t: Long, extra: Int = 0)
    val evs = new java.util.concurrent.ConcurrentLinkedQueue[Ev]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart) = evs.add(Ev("jobStart", e.jobId, e.time))
      override def onJobEnd(e: SparkListenerJobEnd) = evs.add(Ev("jobEnd", e.jobId, e.time))
      override def onOtherEvent(e: SparkListenerEvent) = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          evs.add(Ev("sqlStart", x.executionId.toInt, x.time))
        case _ =>
      }
      override def onStageCompleted(e: SparkListenerStageCompleted) = {
        val i = e.stageInfo
        evs.add(Ev("stage", i.stageId, i.completionTime.get - i.submissionTime.get, i.numTasks))
      }
    })
    @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution = null
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        if (f == "collect") lastQe = qe
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    val rows = ArrayBuffer.empty[String]
    for (session <- 1 to 2) {
      val dir = java.nio.file.Files.createTempDirectory("probe").toString
      val s = new CrawlSession(spark, cfg, corpus, robots, dir, clock = () => new Timestamp(1700000000000L), recordOrder = false)
      s.init()
      var i = 0
      var go = true
      while (go && i < 60) {
        Thread.sleep(300) // let listener events drain
        evs.clear()
        val t0 = System.currentTimeMillis()
        val res = s.runRound()
        val t1 = System.currentTimeMillis()
        Thread.sleep(300)
        go = res.isDefined
        i += 1
        if (go) {
          val all = evs.toArray(Array.empty[Ev]).toSeq
          val js = all.filter(_.kind == "jobStart").map(_.t); val je = all.filter(_.kind == "jobEnd").map(_.t)
          val stages = all.filter(_.kind == "stage").sortBy(_.id)
          val jobs = js.size
          val (plan, commit) = if (jobs > 0) (js.min - t0, t1 - je.max) else (t1 - t0, 0L)
          val mapMs = if (stages.size >= 2) stages.init.map(_.t).sum else -1L
          val mapTasks = if (stages.size >= 2) stages.init.map(_.extra).sum else -1
          val wr = stages.lastOption.map(_.t).getOrElse(-1L)
          val sq = all.filter(_.kind == "sqlStart").map(_.t)
          val pre = if (sq.nonEmpty) sq.min - t0 else -1L
          rows += s"$session,$i,${t1 - t0},$pre,$plan,${if (jobs > 0) je.max - js.min else 0},$mapMs,$mapTasks,$wr,$commit,$jobs"
        }
        if (session == 1 && i == 20 && args.length > 2) {
          java.nio.file.Files.writeString(java.nio.file.Paths.get(args(2), "bound.txt"),
            lastQe.executedPlan.toString)
          if (args.length > 3) dumpPlans(s, args(2))
        }
      }
      s.cleanup()
    }
    val w = new java.io.PrintWriter(out)
    w.println("session,round,wall_ms,pre_action_ms,plan_bind_ms,job_ms,map_stage_ms,map_tasks,writer_stage_ms,commit_ms,jobs")
    rows.foreach(w.println); w.close()
    spark.stop()
  }

  def dumpPlans(s: CrawlSession, dir: String): Unit = {
    // the session's planned fused round, by reflection (a private field)
    val f = s.getClass.getDeclaredFields.find(_.getName.endsWith("smallPlans")).get
    f.setAccessible(true)
    val plans = f.get(s).asInstanceOf[Option[AnyRef]].get
    val m = plans.getClass.getMethods.find(_.getName == "fused").get
    val rows = m.invoke(plans)
    val planned = rows.getClass.getDeclaredFields.find(_.getName.endsWith("planned")).get
    planned.setAccessible(true)
    val plan = planned.get(rows).asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
      .executedPlan
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "template.txt"), plan.toString)
  }
}
