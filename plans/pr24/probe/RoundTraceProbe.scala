package graft.crawl

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.SyntheticCorpus
import graft.model._
import graft.model.Extraction._

/** Traces round 3 of the CrawlParitySpec Overwrite and Incremental sessions
  * and one round above the small-round gate; writes each job list to
  * $PROBE_OUT/<name>.txt.
  */
class RoundTraceProbe extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val out = sys.env("PROBE_OUT")

  val builder = SyntheticCorpus.Builder(n = 400, hostCount = 25)
  lazy val corpusDf = builder.corpus(spark).toDF().persist()
  lazy val robotsDf = builder.robots(spark).toDF()

  def seedUrls(idxs: Long*): Seq[String] = idxs.map { i =>
    UrlOps.canonicalize(SyntheticCorpus.urlOf(i,
      SyntheticCorpus.hostOfDoc(i, 42L, SyntheticCorpus.zipfCdf(25, 1.1))))
  }
  def baseConfig(id: String): CrawlConfig = CrawlConfig(
    sessionId = id, seeds = seedUrls(0L, 5L, 96L),
    excludeUrls = Seq(".*\\.(txt|png|css)"), maxDepth = 3, maxAccessCount = 150,
    hostBudgetPerRound = 3,
    rules = Seq(ScrapingRule(urlPattern = ".*/page/.*", properties = Seq(
      PropertyRule("title", SpanText("title"), trimSpaces = true),
      PropertyRule("body", SpanText("p"), isArray = true, trimSpaces = true)))))

  def dump(name: String, head: String, dir: String,
      t: TestSpark.Traced[Option[CrawlSession.RoundResult]]): Unit = {
    val r = t.result.get
    val lines = Seq(head,
      s"round ${r.round}: claimed=${r.claimed} docs=${r.docsWritten} new=${r.newUrls}",
      s"spark jobs: ${t.jobs.size}", s"sql executions: ${t.queries.size}", "") ++
      t.jobs.sortBy(_.jobId).zipWithIndex.map { case (j, i) =>
        val id = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        f"${i + 1}%2d  sql=${id.getOrElse("-")}%-5s ${t.actionOf(j).getOrElse("(no SQL execution)")}"
      } ++ Seq("", "files under the workDir other than part-*.parquet, their .crc, manifests and metas:") ++ {
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
            .map(_.getFileName.toString)
            .filterNot(n => n.matches("\\.?part-.*\\.parquet(\\.crc)?") ||
              Set("manifest.json", "meta.json")(n) || n.startsWith("."))
            .toSeq.distinct.sorted.map("  " + _)
        } finally st.close()
      }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, s"$name.txt"),
      lines.mkString("", "\n", "\n"))
  }

  test("round 3 of the Overwrite and Incremental sessions") {
    Seq(WriteMode.Overwrite, WriteMode.Incremental).foreach { mode =>
      val dir = TestSpark.tmpDir(s"probe-$mode")
      val s = new CrawlSession(spark, baseConfig(s"probe-$mode").copy(mode = mode),
        corpusDf, robotsDf, dir)
      s.init(); s.runRound(); s.runRound()
      val t = TestSpark.traced(s.runRound())
      dump(s"round3_${mode.toString.toLowerCase}", s"mode: $mode", dir, t)
      s.cleanup()
    }
  }

  test("job counts of round 3, five sessions a mode") {
    val counts = Seq(WriteMode.Overwrite, WriteMode.Incremental).map { mode =>
      mode -> (1 to 5).map { i =>
        val dir = TestSpark.tmpDir(s"probe-rep-$mode")
        val s = new CrawlSession(spark, baseConfig(s"probe-rep-$mode-$i").copy(mode = mode),
          corpusDf, robotsDf, dir)
        s.init(); s.runRound(); s.runRound()
        val t = TestSpark.traced(s.runRound())
        s.cleanup()
        (t.queries.size, t.jobs.size)
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "round3_repeats.txt"),
      counts.map { case (m, cs) => s"$m (SQL actions, jobs) over 5 sessions: ${cs.mkString(" ")}" }
        .mkString("", "\n", "\n"))
  }

  test("a round above the small-round gate") {
    val filler = (0 until 9000).map(i => s"http://f${i % 100}.example.com/s/$i")
    val cfg = baseConfig("probe-large").copy(seeds = seedUrls(0L, 5L, 96L) ++ filler,
      hostBudgetPerRound = 1, maxAccessCount = 700)
    val dir = TestSpark.tmpDir("probe-large")
    val s = new CrawlSession(spark, cfg, corpusDf, robotsDf, dir)
    s.init(); s.runRound(); s.runRound()
    val t = TestSpark.traced(s.runRound())
    assert(s.mirrorVersion.isEmpty)
    dump("round3_above_gate", "mode: Default, seen set above the gate (9,003 seeds)", dir, t)
    s.cleanup()
  }
}
