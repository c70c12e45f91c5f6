package graft.crawl

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.SyntheticCorpus
import graft.model._
import graft.model.Extraction._

/** North-rule parity: identical crawl ordering and URL-seen membership vs
  * the in-memory oracle under the same seed list + politeness budget
  * (BASELINE.json north_rule; reference E2E tests RiverWebTest.java:17-108).
  */
class CrawlParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val builder = SyntheticCorpus.Builder(n = 400, hostCount = 25)
  lazy val corpusDs = builder.corpus(spark)
  lazy val corpusDf = corpusDs.toDF().withColumnRenamed("doc_id", "doc_id").persist()
  lazy val robotsDf = builder.robots(spark)
  lazy val pagesMap: Map[String, PageDoc] =
    corpusDs.collect().map(p => p.doc_id -> p).toMap
  lazy val robotsMap: Map[String, Seq[String]] =
    robotsDf.collect().map(r => r.host -> r.disallow_prefixes).toMap

  def seedUrls(idxs: Long*): Seq[String] = idxs.map { i =>
    UrlOps.canonicalize(SyntheticCorpus.urlOf(i,
      SyntheticCorpus.hostOfDoc(i, 42L, SyntheticCorpus.zipfCdf(25, 1.1))))
  }

  def baseConfig(id: String): CrawlConfig = CrawlConfig(
    sessionId = id,
    seeds = seedUrls(0L, 5L, 96L), // includes a sitemap seed (96 % 97 == 96)
    excludeUrls = Seq(".*\\.(txt|png|css)"), // RiverWebTest.java:89 analog
    maxDepth = 3,
    maxAccessCount = 150,
    hostBudgetPerRound = 3,
    rules = Seq(ScrapingRule(
      urlPattern = ".*/page/.*",
      properties = Seq(
        PropertyRule("title", SpanText("title"), trimSpaces = true),
        PropertyRule("body", SpanText("p"), isArray = true, trimSpaces = true)))))

  def runEngine(cfg: CrawlConfig): (CrawlSession.CrawlResult, Set[String], CrawlSession) = {
    val dir = TestSpark.tmpDir(s"crawl-${cfg.sessionId}")
    val session = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    val result = session.run()
    val seen = session.seenTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    (result, seen, session)
  }

  test("crawl order + seen membership match the oracle (north rule)") {
    val cfg = baseConfig("parity1")
    val (engine, engineSeen, session) = runEngine(cfg)
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)

    assert(engine.crawlOrder == oracle.crawlOrder,
      s"order diverged at ${engine.crawlOrder.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    assert(engineSeen == oracle.seen)
    assert(engine.totalClaimed == oracle.processed)
    assert(engine.totalClaimed <= cfg.maxAccessCount)
    session.cleanup()
  }

  test("parity holds with robots off, unlimited depth, small budget") {
    val cfg = baseConfig("parity2").copy(
      robotsTxt = false, maxDepth = -1, maxAccessCount = 60, hostBudgetPerRound = 2)
    val (engine, engineSeen, session) = runEngine(cfg)
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert(engine.crawlOrder == oracle.crawlOrder)
    assert(engineSeen == oracle.seen)
    session.cleanup()
  }

  test("include filter restricts children (P1) with oracle parity") {
    val cfg = baseConfig("parity3").copy(
      includeUrls = Seq(".*h[0-3]\\.example\\.com.*"), maxAccessCount = 80)
    val (engine, engineSeen, session) = runEngine(cfg)
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert(engine.crawlOrder == oracle.crawlOrder)
    assert(engineSeen == oracle.seen)
    // all non-seed seen urls obey the include filter
    val seeds = cfg.seeds.toSet
    (engineSeen -- seeds).foreach(u => assert(u.matches(".*h[0-3]\\.example\\.com.*")))
    session.cleanup()
  }

  test("a failed round releases every frame it cached") {
    import org.apache.spark.sql.functions.{lit, raise_error}
    val broken = corpusDf.withColumn("lastModified",
      raise_error(lit("boom")).cast("timestamp"))
    val session = new CrawlSession(spark, baseConfig("failed-round"), broken,
      robotsDf.toDF(), TestSpark.tmpDir("crawl-failed-round"))
    session.init()
    corpusDf.count() // the shared corpus cache is not the round's
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](session.runRound())
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"round left cached RDDs $left")
    session.cleanup()
  }

  /** the claim's `count()` action (the cached claim path). */
  val ClaimCount = "count at CrawlLoop.scala"
  /** any `collect()` the round loop runs: a small round's action (a
    * Default round's fused docs write and candidates, another mode's
    * candidates), and once a session the seed candidates (in `init`), the
    * robots rules and the Crawl-delay budgets; the above-gate claim runs
    * none.
    */
  val LoopCollect = "collect at CrawlLoop.scala"

  /** a table write run by Spark: `SnapshotTable` writes a frame that is
    * not on the driver in one `collect` whose tasks write the files.
    */
  val TableWrite = "collect at FrontierStore.scala"

  /** the Spark writes among `t`'s SQL executions, as `<id>: <call site>`. */
  def sparkWrites(t: TestSpark.Traced[_]): Seq[String] =
    t.descriptions.toSeq.sortBy(_._1)
      .collect { case (id, d) if d.startsWith(TableWrite) => s"$id: $d" }

  /** `_SUCCESS` markers and `_temporary` dirs under `dir`: Hadoop's job
    * commit leaves them, and no table write goes through it.
    */
  def commitMarkers(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try st.iterator().asScala.map(_.toString)
      .filter(p => p.endsWith("/_SUCCESS") || p.endsWith("/_temporary")).toList
    finally st.close()
  }

  test("the write detector sees Spark's table writes: a Spark frame's commit, and an above-gate round's three") {
    val table = new graft.frontier.SnapshotTable(TestSpark.tmpDir("detector"), spark)
    val t = TestSpark.traced(table.commitAppend(corpusDf.select("doc_id").repartition(1)))
    assert(sparkWrites(t).size == 1 && t.queries.size == 1, sparkWrites(t))
    assert(TestSpark.writtenBy(s"${table.root}/segments/0") == Seq("task"))
    // 8,200 filler seeds put the seen set above the gate from the start:
    // the round writes the frontier's segment and tombstones and the docs
    val filler = (0 until 8200).map(i => s"http://f${i % 100}.example.com/s/$i")
    val s = new CrawlSession(spark, baseConfig("detector").copy(
      seeds = seedUrls(0L, 5L, 96L) ++ filler, hostBudgetPerRound = 1),
      corpusDf, robotsDf.toDF(), TestSpark.tmpDir("crawl-detector"))
    s.init()
    val r = TestSpark.traced(s.runRound())
    assert(r.result.exists(_.docsWritten > 0) && s.mirrorVersion.isEmpty)
    assert(sparkWrites(r).size == 3, sparkWrites(r))
    table.drop(); s.cleanup()
  }

  /** Run a session round by round, checking after each round that the seen
    * set holds the live frontier plus every page processed, as the round
    * reports it.
    */
  def runChecked(s: CrawlSession): CrawlSession.CrawlResult = {
    s.init()
    val rounds = Iterator.continually(s.runRound()).takeWhile(_.isDefined).map(_.get)
      .map { r =>
        assert(r.seenTotal == r.frontierLeft + r.processed, s"round ${r.round}")
        assert(s.seenTable.read().count() == r.seenTotal, s"round ${r.round}")
        r
      }.toList
    CrawlSession.CrawlResult(rounds, rounds.map(_.claimed).sum)
  }

  /** the same identity read from the manifest alone, for a session that ran
    * no round (a resume after completion).
    */
  def assertSeenIdentity(s: CrawlSession): Unit = {
    val ft = s.frontierTable
    val v = ft.currentVersion
    val processed = ft.metric(v, "processed").map(_.toLong).getOrElse(0L)
    assert(s.seenTable.read().count() == ft.rowsOf(v) + processed)
  }

  test("a steady-state small Default round: one SQL action, at most 2 Spark jobs, no Spark write, one docs file in the new segment") {
    val session = new CrawlSession(spark, baseConfig("round-jobs"), corpusDf,
      robotsDf.toDF(), TestSpark.tmpDir("crawl-round-jobs"))
    session.init()
    session.runRound(); session.runRound()
    val t = TestSpark.traced(session.runRound())
    assert(t.result.exists(_.claimed > 0), "round 3 still claims pages")
    def sqlExecution(j: org.apache.spark.scheduler.SparkListenerJobStart) =
      Option(j.properties).exists(_.getProperty("spark.sql.execution.id") != null)
    val inference = t.jobs.filter(j => !sqlExecution(j) &&
      j.stageInfos.exists(_.name.contains("FrontierStore.scala")))
    assert(inference.isEmpty,
      s"jobs outside any SQL execution: ${inference.flatMap(_.stageInfos.map(_.name))}")
    // a small frontier is claimed from the driver mirror (no count, no
    // cache), and the frontier's files are written from the driver: the one
    // action writes the docs and returns the round's candidates
    assert(t.jobsOf(ClaimCount).isEmpty, "the small claim ran a count")
    assert(sparkWrites(t).isEmpty, s"Spark writes: ${sparkWrites(t)}")
    assert(t.queries.size == 1, s"${t.queries.size} SQL actions")
    assert(t.descriptions.values.toSet.count(_.startsWith(LoopCollect)) == 1,
      s"${t.descriptions.values.toSet}")
    // measured: 1 job of 2 stages for this round on this corpus, as the
    // action runs without AQE (3 jobs in 2 actions when the docs were a
    // Spark write beside the candidates' collect)
    assert(t.jobs.size <= 2,
      s"${t.jobs.size} jobs: ${t.jobs.map(t.actionOf).mkString(", ")}")
    val dt = session.docsTable
    val files = new java.io.File(s"${dt.root}/segments/${dt.currentVersion}").list().toSeq
    assert(files.count(_.endsWith(".parquet")) == 1 && !files.contains("_SUCCESS"),
      s"docs segment: $files")
    assert(dt.segmentRows(dt.currentVersion.toString) == t.result.get.docsWritten)
    session.cleanup()
  }

  test("a steady small Default session plans its round once: each round is one job that scans each corpus partition once, skips no stage and stages exactly its claimed documents") {
    val cfg = baseConfig("round-template").copy(maxAccessCount = 400, hostBudgetPerRound = 2)
    val session = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(),
      TestSpark.tmpDir("crawl-round-template"))
    session.init()
    session.runRound(); session.runRound()
    val corpusPartitions = corpusDf.queryExecution.toRdd.getNumPartitions
    val dt = session.docsTable
    val runs = (3 to 8).map { i =>
      val t = TestSpark.traced(session.runRound())
      val r = t.result.getOrElse(fail(s"round $i claimed nothing"))
      assert(t.queries.size == 1 && t.jobs.size == 1,
        s"round $i: ${t.queries.size} SQL actions, ${t.jobs.size} jobs")
      val stages = t.jobs.head.stageInfos
      assert(stages.forall(st => t.stagesRun.contains(st.stageId)),
        s"round $i skipped stages ${stages.map(_.stageId).filterNot(t.stagesRun)}")
      // the map stage, then the writer task's
      val Seq(map, writer) = stages.sortBy(_.stageId)
      assert(map.numTasks == corpusPartitions && writer.numTasks == 1,
        s"round $i: ${map.numTasks} map tasks over $corpusPartitions corpus partitions")
      // the round's docs segment: exactly the claimed pages that store a
      // document, by its footers and by its rows
      val seg = s"${dt.root}/segments/${dt.currentVersion}"
      val urls = spark.read.parquet(seg).select("url").collect().map(_.getString(0)).toSeq
      val expected = r.claimOrder.map(_._1).filter(storesDoc(cfg, _))
      assert(urls.sorted == expected.sorted, s"round $i")
      assert(dt.segmentRows(dt.currentVersion.toString) == expected.size &&
        r.docsWritten == expected.size, s"round $i")
      t.queries.head
    }
    // one analyzed and optimized plan for every round, a fresh physical plan
    // each round
    assert(session.fusedRoundPlans == 1, s"${session.fusedRoundPlans} plans")
    assert(runs.forall(q => (q.analyzed eq runs.head.analyzed) &&
      (q.optimizedPlan eq runs.head.optimizedPlan)))
    assert(runs.map(q => System.identityHashCode(q.executedPlan)).distinct.size == runs.size)
    session.cleanup()
  }

  test("the robots Crawl-delay budgets are collected once a session, not every round") {
    val session = new CrawlSession(spark, baseConfig("robots-once"), corpusDf,
      robotsDf.toDF(), TestSpark.tmpDir("crawl-robots-once"))
    val t = TestSpark.traced {
      session.init()
      (1 to 5).map(_ => session.runRound())
    }
    assert(t.result.forall(_.exists(_.claimed > 0)), "five rounds that claim pages")
    // the loop's collects by call site: the round's action once a round;
    // the seed candidates, the robots rules and the Crawl-delay budgets once
    // a session. `init` seeds the driver mirror, so no round loads it.
    val loop = t.descriptions.values.filter(_.startsWith(LoopCollect))
      .groupBy(identity).values.map(_.size).toSeq.sorted
    assert(loop == Seq(1, 1, 1, 5), s"collects by call site: $loop")
    session.cleanup()
  }

  test("init seeds the frontier from the driver: no Spark write, the rows and schema of a Spark-written seed") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // a seed listed twice and a spelling that canonicalizes to another
    // seed: the frontier holds each url once
    val seeds = seedUrls(0L, 5L, 96L)
    val cfg = baseConfig("seed-driver").copy(seeds = seeds ++ Seq(seeds(1), seeds.head + "#top"))
    val s = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), TestSpark.tmpDir("crawl-seed-driver"))
    val t = TestSpark.traced(s.init())
    assert(sparkWrites(t).isEmpty, s"Spark writes: ${sparkWrites(t)}")
    val ft = s.frontierTable
    val v = ft.currentVersion
    assert(ft.metric(v, "kind").contains("seed"))
    // the same candidates through Spark's dedup and a Spark write
    val want = new graft.frontier.SnapshotTable(TestSpark.tmpDir("crawl-seed-spark"), spark)
    want.commitFull(CrawlSession.dedup(cfg.seeds.toDF("child")
      .select(UrlOps.canonicalizeCol(col("child")).as("url"))
      .withColumn("urlHash", UrlOps.urlHashCol(col("url")))
      .withColumn("host", UrlOps.hostCol(col("url")))
      .withColumn("depth", lit(0))
      .withColumn("parentUrl", lit(null).cast("string"))).repartition(1))
    val (got, exp) = (ft.readVersion(v), want.read())
    assert(got.schema == exp.schema, s"${got.schema} != ${exp.schema}")
    // the seed rows are the driver mirror of the seed version, under the
    // schema a read of it gives
    assert(s.mirrorVersion.contains(v) && s.mirrorSchema.contains(got.schema),
      s"${s.mirrorSchema} != ${got.schema}")
    val rows = got.collect().toSeq
    assert(rows.size == seeds.size && rows.toSet == exp.collect().toSet)
    want.drop()
    s.cleanup()
  }

  test("cleanup() removes the session: a fresh session under the same id crawls the same again") {
    val cfg = baseConfig("cleanup")
    val dir = TestSpark.tmpDir("crawl-cleanup")
    def seenOf(s: CrawlSession) =
      s.seenTable.read().select("url").collect().map(_.getString(0)).toSet
    val s1 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    val first = s1.run()
    val firstSeen = seenOf(s1)
    assert(first.totalClaimed > 0)
    // a manifest temp file a crash could leave behind goes too
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s1.frontierTable.root, ".manifest.99.tmp"), "{}")
    s1.cleanup()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "sessions", "cleanup")))
    val s2 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    val second = s2.run()
    assert(second.crawlOrder == first.crawlOrder)
    assert(seenOf(s2) == firstSeen)
    s2.cleanup()
  }

  test("steady-state small Overwrite and Incremental rounds: no docs side index, at most 10 and 6 Spark jobs") {
    // measured on this corpus in 3 runs: Overwrite 8-9 jobs in 3 SQL
    // actions, Incremental 5 in 2 — the round's collect and the docs
    // merge's writes (with the frontier written by Spark: Overwrite 15-16
    // jobs in 4 actions, Incremental 11-12 in 3); a round's job count varies
    // with AQE, its SQL actions do not
    Seq((WriteMode.Overwrite, 10, 3), (WriteMode.Incremental, 6, 2)).foreach {
      case (mode, maxJobs, sqlActions) =>
        val dir = TestSpark.tmpDir(s"crawl-round-jobs-$mode")
        val session = new CrawlSession(spark, baseConfig(s"round-jobs-$mode")
          .copy(mode = mode), corpusDf, robotsDf.toDF(), dir)
        session.init()
        session.runRound(); session.runRound()
        val t = TestSpark.traced(session.runRound())
        assert(t.result.exists(r => r.claimed > 0 && r.docsWritten > 0), mode)
        val (actions, jobs) = (t.queries.size, t.jobs.size)
        assert(actions == sqlActions, s"$mode: $actions SQL actions")
        assert(jobs <= maxJobs, s"$mode: $jobs jobs: ${t.jobs.map(t.actionOf).mkString(", ")}")
        assert(new java.io.File(dir).list().toSet == Set("sessions", "docs"), mode)
        assert(commitMarkers(dir).isEmpty, commitMarkers(dir))
        session.cleanup()
    }
  }

  test("a relative workDir crawls like an absolute one; gc() keeps the seen refs") {
    val cfg = baseConfig("relative")
    val abs = java.nio.file.Paths.get(TestSpark.tmpDir("crawl-relative"))
    val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(abs).toString
    assert(!rel.startsWith("/"))
    val s1 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), rel)
    val result = s1.run()
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert(result.crawlOrder == oracle.crawlOrder)
    def seenOf(s: CrawlSession) =
      s.seenTable.read().select("url").collect().map(_.getString(0)).toSet
    assert(seenOf(s1) == oracle.seen)
    s1.gc()
    val s2 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), rel)
    assert(s2.run().rounds.isEmpty, "completed crawl resumes as a no-op after gc")
    assert(seenOf(s2) == oracle.seen, "gc kept the frontier segments seen refers to")
    s2.cleanup()
  }

  test("a workDir holding a manifest delimiter fails at construction, not inside a round") {
    val dir = TestSpark.tmpDir("crawl-delim") + "/run,1"
    val e = intercept[IllegalArgumentException](
      new CrawlSession(spark, baseConfig("delim"), corpusDf, robotsDf.toDF(), dir))
    assert(e.getMessage.contains("must not contain") && e.getMessage.contains("run,1"),
      e.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("crash between a round's two table commits: resume ignores orphan snapshots") {
    import java.nio.file.{Files, Paths}
    val cfg = baseConfig("crash")
    val dir = TestSpark.tmpDir("crawl-crash")
    val s1 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    s1.init()
    val r1 = s1.runRound().get
    // simulate a crash AFTER the next round's frontier files are written
    // but BEFORE they are published: a staged commit whose publish barrier
    // moves the staged files aside (a dead process deletes nothing) and
    // throws; the files then go back, an orphan version above the head
    // whose append log holds the orphan url
    import spark.implicits._
    val ft = s1.frontierTable
    val v1 = ft.currentVersion
    val ov = v1 + 1
    val staged = Seq("segments", "tombstones", "snapshots").map(k => Paths.get(ft.root, k, ov.toString))
    val aside = Paths.get(TestSpark.tmpDir("crawl-crash-aside"))
    def asideOf(d: java.nio.file.Path) = aside.resolve(d.getParent.getFileName.toString)
    val orphan = Seq(("http://orphan/x", 1L, "orphan", 0, "p"))
      .toDF("url", "urlHash", "host", "depth", "parentUrl")
    intercept[IllegalStateException](ft.commitDeltaTo(orphan,
      orphan.limit(0).select("urlHash", "url"), Map("round" -> "99"), () => {
        staged.foreach(d => Files.move(d, asideOf(d)))
        throw new IllegalStateException("crash")
      }))
    staged.foreach(d => Files.move(asideOf(d), d))
    assert(ft.appendedOf(ov) == ft.appendedOf(v1) :+ ov.toString)
    assert(ft.readSegments(ft.appendedOf(ov)).filter($"url" === "http://orphan/x").count() == 1)
    assert(ft.currentVersion == v1)
    assert(s1.seenTable.read().filter($"url".contains("orphan")).isEmpty)
    // resume: a fresh session over the same workDir must reproduce the
    // uninterrupted crawl exactly (orphans invisible)
    val s2 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    val rest = s2.run()
    val fullOrder = r1.claimOrder ++ rest.crawlOrder
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert(fullOrder == oracle.crawlOrder)
    assert(!rest.crawlOrder.exists(_._1.contains("orphan")))
    val seen = s2.seenTable.read().select("url").collect().map(_.getString(0)).toSet
    assert(seen == oracle.seen, "the orphan's append log is not the seen set")
    s2.cleanup()
  }

  test("politeness budget: ≤ hostBudget claims per host per round (W2/Z1)") {
    val cfg = baseConfig("parity4").copy(hostBudgetPerRound = 2, maxAccessCount = 100)
    val dir = TestSpark.tmpDir("crawl-budget")
    val session = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    val result = session.run()
    result.rounds.foreach { r =>
      val perHost = r.claimOrder.groupBy { case (u, _) => UrlOps.host(u) }
      perHost.foreach { case (h, claims) =>
        assert(claims.size <= 2, s"host $h over budget in round ${r.round}")
      }
    }
    session.cleanup()
  }

  test("robots Crawl-delay caps the per-host round quota below the budget (Z1/Z2)") {
    val hot = UrlOps.host(seedUrls(0L).head)
    val rules = robotsDf.collect().toSeq
    // 30s delay on the seed's (hottest) host → quota floor(60/30) = 2 < 3
    val withDelay = rules.filter(_.host != hot) :+ RobotsRules(hot,
      rules.find(_.host == hot).map(_.disallow_prefixes).getOrElse(Nil),
      Some(30L))
    val cfg = baseConfig("crawldelay").copy(hostBudgetPerRound = 3,
      maxAccessCount = 100)
    val dir = TestSpark.tmpDir("crawl-delay")
    import spark.implicits._
    val session = new CrawlSession(spark, cfg, corpusDf,
      withDelay.toDF(), dir)
    val result = session.run()
    var hotAtQuota = false
    result.rounds.foreach { r =>
      val perHost = r.claimOrder.groupBy { case (u, _) => UrlOps.host(u) }
      perHost.foreach { case (h, claims) =>
        val cap = if (h == hot) 2 else 3
        assert(claims.size <= cap, s"host $h over cap in round ${r.round}")
      }
      if (perHost.get(hot).exists(_.size == 2)) hotAtQuota = true
    }
    assert(hotAtQuota, "the delayed host never reached its reduced quota")
    session.cleanup()
  }

  test("a robots Crawl-delay of 0 sets no quota: the host crawls under the default budget, with ANSI arithmetic on (Z1)") {
    val hot = UrlOps.host(seedUrls(0L).head)
    val rules = robotsDf.collect().toSeq
    val noDelay = rules.filter(_.host != hot) :+ RobotsRules(hot,
      rules.find(_.host == hot).map(_.disallow_prefixes).getOrElse(Nil), Some(0L))
    // the suite runs Spark's default arithmetic, under which a division by
    // zero throws
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val cfg = baseConfig("zerodelay")
    val session = new CrawlSession(spark, cfg, corpusDf, spark.createDataFrame(noDelay).toDF(),
      TestSpark.tmpDir("crawl-zerodelay"))
    val result = session.run()
    // the oracle knows no Crawl-delay: a host without a quota crawls alike
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert(result.crawlOrder == oracle.crawlOrder,
      s"order diverged at ${result.crawlOrder.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    assert(result.rounds.exists(_.claimOrder.count(c => UrlOps.host(c._1) == hot) ==
      cfg.hostBudgetPerRound), "the 0-delay host never claimed the default budget")
    session.cleanup()
  }

  test("parity holds at larger scale (2000-page corpus, deeper BFS, more skew)") {
    val bigBuilder = SyntheticCorpus.Builder(n = 2000, hostCount = 40)
    val bigCorpus = bigBuilder.corpus(spark)
    val bigPages = bigCorpus.collect().map(p => p.doc_id -> p).toMap
    val bigRobots = bigBuilder.robots(spark)
    val bigRobotsMap = bigRobots.collect().map(r => r.host -> r.disallow_prefixes).toMap
    val bigCdf = SyntheticCorpus.zipfCdf(40, 1.1)
    def bigSeed(i: Long) = UrlOps.canonicalize(
      SyntheticCorpus.urlOf(i, SyntheticCorpus.hostOfDoc(i, 42L, bigCdf)))
    val cfg = CrawlConfig(
      sessionId = "parity-big",
      seeds = Seq(bigSeed(0L), bigSeed(11L), bigSeed(500L)),
      maxDepth = 4, maxAccessCount = 250, hostBudgetPerRound = 4,
      rules = Seq(ScrapingRule(".*/page/.*", properties = Seq(
        PropertyRule("title", SpanText("title"), trimSpaces = true)))))
    val dir = TestSpark.tmpDir("crawl-big")
    val session = new CrawlSession(spark, cfg, bigCorpus.toDF(), bigRobots.toDF(), dir)
    val engine = session.run()
    val engineSeen = session.seenTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    val oracle = Oracle.crawl(bigPages, bigRobotsMap, cfg)
    assert(engine.crawlOrder == oracle.crawlOrder,
      s"order diverged at ${engine.crawlOrder.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    assert(engineSeen == oracle.seen)
    assert(engine.totalClaimed == oracle.processed)
    session.cleanup()
  }

  test("resume from checkpoint: interrupted crawl equals uninterrupted (Z6)") {
    val cfg = baseConfig("resume")
    val dir = TestSpark.tmpDir("crawl-resume")
    // run 1: two rounds only, then "crash"
    val s1 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    s1.init()
    val r1 = s1.runRound().get
    val r2 = s1.runRound().get
    // run 2: fresh session object over the same workDir resumes from manifest
    val s2 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    val rest = s2.run()
    val fullOrder = Seq(r1, r2).flatMap(_.claimOrder) ++ rest.crawlOrder
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert(fullOrder == oracle.crawlOrder)
    val seen = s2.seenTable.read().select("url").collect().map(_.getString(0)).toSet
    assert(seen == oracle.seen)
    s2.cleanup()
  }

  test("a resumed session loads its driver mirror with two collects in its first round, then runs steady-state rounds") {
    val cfg = baseConfig("mirror-load")
    val dir = TestSpark.tmpDir("crawl-mirror-load")
    val s1 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    s1.init()
    val first = Seq(s1.runRound().get, s1.runRound().get)
    val s2 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    assert(s2.mirrorVersion.isEmpty)
    val ft = s2.frontierTable
    // the SQL actions that scan the frontier's files, i.e. the mirror loads
    def frontierScans(t: TestSpark.Traced[_]) = t.queries.count(_.optimizedPlan.exists {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.exists(_.toString.contains(s"${ft.root}/"))
          case _ => false
        }
      case _ => false
    })
    def loopCollects(t: TestSpark.Traced[_]) =
      t.descriptions.values.filter(_.startsWith(LoopCollect)).toSeq
    val load = TestSpark.traced(s2.runRound())
    val r3 = load.result.get
    assert(frontierScans(load) == 2, s"${frontierScans(load)} frontier scans")
    // the round's action, the robots rules and Crawl-delay budgets (once a
    // session) and the two loads: five collects, each once, and no other
    // SQL action
    assert(loopCollects(load).size == 5 && loopCollects(load).distinct.size == 5,
      s"${loopCollects(load)}")
    assert(load.queries.size == 5, s"${load.queries.size} SQL actions")
    assert(s2.mirrorVersion.contains(ft.currentVersion))
    val steady = TestSpark.traced(s2.runRound())
    val r4 = steady.result.get
    assert(frontierScans(steady) == 0 && loopCollects(steady).size == 1)
    assert(steady.queries.size == 1, s"${steady.queries.size} SQL actions")
    assert(steady.jobs.size <= 2,
      s"${steady.jobs.size} jobs: ${steady.jobs.map(steady.actionOf).mkString(", ")}")
    val rest = Iterator.continually(s2.runRound()).takeWhile(_.isDefined).map(_.get).toList
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    val order = (first ++ (r3 :: r4 :: rest)).flatMap(_.claimOrder)
    assert(order == oracle.crawlOrder,
      s"order diverged at ${order.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    assert(s2.seenTable.read().select("url").collect().map(_.getString(0)).toSet == oracle.seen)
    s2.cleanup()
  }

  test("a session across a frontier compaction keeps oracle parity; seen holds only refs") {
    // > 4096 claims cross the compaction floor (max(4096, live/4) cumulative
    // tombstones) inside one session
    val cmpBuilder = SyntheticCorpus.Builder(n = 5000, hostCount = 10)
    val cmpCorpus = cmpBuilder.corpus(spark)
    val cmpPages = cmpCorpus.collect().map(p => p.doc_id -> p).toMap
    val cmpRobots = cmpBuilder.robots(spark)
    val cmpRobotsMap = cmpRobots.collect().map(r => r.host -> r.disallow_prefixes).toMap
    val cdf = SyntheticCorpus.zipfCdf(10, 1.1)
    def seed(i: Long) = UrlOps.canonicalize(
      SyntheticCorpus.urlOf(i, SyntheticCorpus.hostOfDoc(i, 42L, cdf)))
    val cfg = CrawlConfig(
      sessionId = "compaction",
      seeds = Seq(seed(0L), seed(7L), seed(96L)),
      maxDepth = -1, maxAccessCount = 4400, hostBudgetPerRound = 1000,
      rules = Seq(ScrapingRule(".*/page/.*", properties = Seq(
        PropertyRule("title", SpanText("title"), trimSpaces = true)))))
    val dir = TestSpark.tmpDir("crawl-compaction")
    val s1 = new CrawlSession(spark, cfg, cmpCorpus.toDF(), cmpRobots.toDF(), dir)
    val engine = runChecked(s1)
    val ft = s1.frontierTable
    val compactions = (0L to ft.currentVersion).filter(v =>
      ft.metric(v, "round").exists(_.toInt > 1) && ft.tombstonesOf(v).isEmpty)
    assert(compactions.nonEmpty, s"no compaction in ${engine.rounds.size} rounds")
    val oracle = Oracle.crawl(cmpPages, cmpRobotsMap, cfg)
    assert(engine.crawlOrder == oracle.crawlOrder,
      s"order diverged at ${engine.crawlOrder.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    def seenOf(s: CrawlSession) =
      s.seenTable.read().select("url").collect().map(_.getString(0)).toSet
    assert(seenOf(s1) == oracle.seen)
    // the seen set is the frontier's append log: no table of its own, and
    // a compaction's base segment never joins the log
    assert(new java.io.File(s"$dir/sessions/compaction").list().toSet == Set("frontier"))
    assert(commitMarkers(dir).isEmpty, commitMarkers(dir))
    val log = ft.appendedOf(ft.currentVersion)
    compactions.foreach { v =>
      assert(ft.segmentsOf(v).contains(s"$v-base") && log.contains(v.toString))
      assert(!log.contains(s"$v-base"))
    }
    val frontierLeft = ft.rowsOf(ft.currentVersion)
    s1.gc()
    val s2 = new CrawlSession(spark, cfg, cmpCorpus.toDF(), cmpRobots.toDF(), dir)
    assert(s2.run().rounds.isEmpty, "completed crawl resumes as a no-op after gc")
    assert(seenOf(s2) == oracle.seen, "gc kept the frontier segments seen refers to")
    assertSeenIdentity(s2)
    assert(s2.frontierTable.read().count() == frontierLeft, "gc kept the base segment")
    s2.cleanup()
  }

  test("a frontier above the small-claim gate takes the cached claim and keeps oracle parity") {
    // the gate reads min(frontierRows, remaining): ~9,000 seeds and a budget
    // above it put both past SmallWriteRows; the session is cut after two
    // rounds instead, and the oracle is capped at the pages they claimed
    val lgBuilder = SyntheticCorpus.Builder(n = 10000, hostCount = 40)
    val lgCorpus = lgBuilder.corpus(spark)
    val lgPages = lgCorpus.collect().map(p => p.doc_id -> p).toMap
    val lgRobots = lgBuilder.robots(spark)
    val lgRobotsMap = lgRobots.collect().map(r => r.host -> r.disallow_prefixes).toMap
    val cdf = SyntheticCorpus.zipfCdf(40, 1.1)
    def seed(i: Long) = UrlOps.canonicalize(
      SyntheticCorpus.urlOf(i, SyntheticCorpus.hostOfDoc(i, 42L, cdf)))
    val cfg = CrawlConfig(
      sessionId = "large-frontier",
      seeds = (0L until 9000L).map(seed),
      maxDepth = 3, maxAccessCount = 20000, hostBudgetPerRound = 4,
      rules = Seq(ScrapingRule(".*/page/.*", properties = Seq(
        PropertyRule("title", SpanText("title"), trimSpaces = true)))))
    val dir = TestSpark.tmpDir("crawl-large-frontier")
    val session = new CrawlSession(spark, cfg, lgCorpus.toDF(), lgRobots.toDF(), dir)
    session.init()
    val ft = session.frontierTable
    assert(ft.rowsOf(ft.currentVersion) > CrawlSession.SmallWriteRows)
    val r1 = session.runRound().get
    val t = TestSpark.traced(session.runRound())
    val r2 = t.result.get
    assert(t.jobsOf(ClaimCount).nonEmpty, "the large frontier's claim was not counted")
    // on to a frontier at or below the gate, whose seen set stays above it:
    // the round still takes the cached claim and the Spark seen check
    val large = scala.collection.mutable.ListBuffer.empty[CrawlSession.RoundResult]
    while (ft.rowsOf(ft.currentVersion) > CrawlSession.SmallWriteRows && large.size < 40)
      large += session.runRound().get
    assert(ft.rowsOf(ft.currentVersion) <= CrawlSession.SmallWriteRows)
    val below = TestSpark.traced(session.runRound())
    val r3 = below.result.get
    assert(r3.seenTotal > CrawlSession.SmallWriteRows && below.jobsOf(ClaimCount).nonEmpty)
    assert(session.mirrorVersion.isEmpty, "a seen set above the gate kept a driver mirror")
    val rounds = Seq(r1, r2) ++ large :+ r3
    val claimed = rounds.map(_.claimed).sum
    val oracle = Oracle.crawl(lgPages, lgRobotsMap, cfg.copy(maxAccessCount = claimed))
    val order = rounds.flatMap(_.claimOrder)
    assert(order == oracle.crawlOrder,
      s"order diverged at ${order.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    val seen = session.seenTable.read().select("url").collect().map(_.getString(0)).toSet
    assert(seen == oracle.seen)
    assert(claimed == oracle.processed)
    session.cleanup()
  }

  test("a round whose docs commit fails leaves the frontier at its parent with no staged files; the same session keeps its mirror and matches the oracle") {
    import java.nio.file.{Files, Paths}
    val cfg = baseConfig("mirror-fail")
    val dir = TestSpark.tmpDir("crawl-mirror-fail")
    val s = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    s.init()
    val first = Seq(s.runRound().get, s.runRound().get)
    val ft = s.frontierTable
    val head = ft.currentVersion
    assert(s.mirrorVersion.contains(head))
    // the docs table's segment dir becomes a file: round 3's docs write
    // throws while its frontier files are staged, before their publish
    val segs = Paths.get(dir, "docs", "segments")
    val aside = Paths.get(dir, "docs-segments")
    Files.move(segs, aside)
    Files.writeString(segs, "not a dir")
    val docsV = s.docsTable.currentVersion
    intercept[Exception](s.runRound())
    assert(ft.currentVersion == head, "the failed round published its frontier snapshot")
    Seq("segments", "tombstones", "snapshots").foreach { kind =>
      val left = new java.io.File(s"${ft.root}/$kind").list()
        .filter(n => n == s"${head + 1}" || n == s"${head + 1}-base")
      assert(left.isEmpty, s"$kind: ${left.mkString(", ")} left")
    }
    assert(s.docsTable.currentVersion == docsV)
    assert(s.mirrorVersion.contains(head), "the failed round dropped the mirror")
    Files.delete(segs)
    Files.move(aside, segs)
    // the same object goes on from its mirror
    val r3 = s.runRound().get
    assert(s.mirrorVersion.contains(ft.currentVersion) && ft.currentVersion == head + 1)
    val rest = Iterator.continually(s.runRound()).takeWhile(_.isDefined).map(_.get).toList
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    val order = (first ++ (r3 :: rest)).flatMap(_.claimOrder)
    assert(order == oracle.crawlOrder,
      s"order diverged at ${order.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    assert(s.seenTable.read().select("url").collect().map(_.getString(0)).toSet == oracle.seen)
    val docs = s.docsTable.read().select("url").collect().map(_.getString(0))
    assert(docs.length == docs.toSet.size, "the failed round stored no docs")
    s.cleanup()
  }

  /** the urls whose docs a crawl under `cfg` stores: claimed 200 pages
    * that are neither redirects nor sitemaps and match a rule.
    */
  def oracleDocs(cfg: CrawlConfig, oracle: Oracle.Result): Set[String] =
    oracle.crawlOrder.map(_._1).filter(storesDoc(cfg, _)).toSet

  def storesDoc(cfg: CrawlConfig, url: String): Boolean =
    pagesMap.get(url).exists(p => p.httpStatus == 200 && !p.spans.exists(_.kind == "redirect")) &&
      !url.matches(cfg.sitemapPattern) && cfg.rules.exists(r => url.matches(r.urlPattern))

  /** the entries of snapshot v in a table root's `segments`, `tombstones`
    * and `snapshots` dirs.
    */
  def staged(root: String, v: Long): Seq[String] =
    Seq("segments", "tombstones", "snapshots").flatMap { kind =>
      Option(new java.io.File(s"$root/$kind").list()).toSeq.flatten
        .filter(n => n == v.toString || n == s"$v-base").map(n => s"$kind/$n")
    }

  test("a small Default round whose fused action or frontier write fails stages nothing in either table, releases its frames and keeps the mirror; the same session then matches the oracle") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.{col, udf}
    val cfg = baseConfig("fused-fail")
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    // the corpus's lastModified throws for one page while FusedFault is set
    val failing = udf { (id: String, t: Long) =>
      if (FusedFault.failOn.contains(id)) throw new IllegalStateException(s"injected: $id")
      t
    }
    val corpus = corpusDf.withColumn("lastModified", failing(col("doc_id"), col("lastModified")))
    val dir = TestSpark.tmpDir("crawl-fused-fail")
    val s = new CrawlSession(spark, cfg, corpus, robotsDf.toDF(), dir)
    val (ft, dt) = (s.frontierTable, s.docsTable)
    s.init()
    val done = scala.collection.mutable.ListBuffer(s.runRound().get, s.runRound().get)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the first page after these rounds that stores a doc: the round that
    // claims it throws in its fused action
    val target = oracle.crawlOrder.drop(done.map(_.claimOrder.size).sum).map(_._1)
      .find(storesDoc(cfg, _)).get
    def assertUnmoved(head: Long, docsHead: Long): Unit = {
      assert(ft.currentVersion == head && dt.currentVersion == docsHead)
      assert(staged(ft.root, head + 1).isEmpty, s"frontier: ${staged(ft.root, head + 1)}")
      assert(staged(dt.root, docsHead + 1).isEmpty, s"docs: ${staged(dt.root, docsHead + 1)}")
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"round left cached RDDs $left")
      assert(s.mirrorVersion.contains(head), "the failed round dropped the mirror")
    }
    FusedFault.failOn = Some(target)
    try {
      var failed = false
      while (!failed) {
        val (head, docsHead) = (ft.currentVersion, dt.currentVersion)
        scala.util.Try(s.runRound()) match {
          case scala.util.Success(r) =>
            assert(r.exists(!_.claimOrder.exists(_._1 == target)), s"$target never failed")
            done += r.get
          case scala.util.Failure(e) =>
            failed = true
            assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
              .exists(x => String.valueOf(x.getMessage).contains(s"injected: $target")), e)
            assertUnmoved(head, docsHead)
        }
      }
    } finally FusedFault.failOn = None
    // the docs file is written, then the frontier's segment write fails: the
    // staged docs segment goes with the frontier's files
    val (head, docsHead) = (ft.currentVersion, dt.currentVersion)
    val segs = Paths.get(ft.root, "segments")
    val aside = Paths.get(dir, "frontier-segments")
    Files.move(segs, aside)
    Files.writeString(segs, "not a dir")
    intercept[Exception](s.runRound())
    Files.delete(segs)
    Files.move(aside, segs)
    assertUnmoved(head, docsHead)
    done ++= Iterator.continually(s.runRound()).takeWhile(_.isDefined).map(_.get)
    val order = done.toList.flatMap(_.claimOrder)
    assert(order == oracle.crawlOrder,
      s"order diverged at ${order.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    assert(s.seenTable.read().select("url").collect().map(_.getString(0)).toSet == oracle.seen)
    val docs = dt.read().select("url").collect().map(_.getString(0))
    assert(docs.length == docs.toSet.size && docs.toSet == oracleDocs(cfg, oracle))
    // every round after the failures ran on the plan of the first
    assert(s.fusedRoundPlans == 1, s"${s.fusedRoundPlans} fused round plans")
    s.cleanup()
  }

  test("a fused docs segment commits over a lost attempt's file, and reads like the same docs written by Spark") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.{col, lit, struct}
    import graft.frontier.SnapshotTable
    val cfg = baseConfig("fused-stray")
    val s = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), TestSpark.tmpDir("crawl-fused-stray"))
    val dt = s.docsTable
    s.init()
    val first = Seq(s.runRound().get, s.runRound().get)
    // a lost attempt's file in the next docs segment: a copy of the fullest
    // docs file so far, whose rows would be stored twice if it were kept
    def parquetIn(v: Long) = new java.io.File(s"${dt.root}/segments/$v").list()
      .filter(_.endsWith(".parquet")).toSeq
    val fullest = (0L to dt.currentVersion).maxBy(v => dt.segmentRows(v.toString))
    assert(dt.segmentRows(fullest.toString) > 0)
    val next = dt.currentVersion + 1
    val stray = s"part-00000-$next-999999-c000.snappy.parquet"
    Files.createDirectories(Paths.get(dt.root, "segments", next.toString))
    Files.copy(Paths.get(dt.root, "segments", fullest.toString, parquetIn(fullest).head),
      Paths.get(dt.root, "segments", next.toString, stray))
    val rest = Iterator.continually(s.runRound()).takeWhile(_.isDefined).map(_.get).toList
    assert(parquetIn(next).size == 1 && !parquetIn(next).contains(stray), parquetIn(next))
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert((first ++ rest).flatMap(_.claimOrder) == oracle.crawlOrder)
    val docs = dt.read().select("url").collect().map(_.getString(0))
    assert(docs.length == docs.toSet.size && docs.toSet == oracleDocs(cfg, oracle))

    // the session's docs, and its seeds as candidates, through the fused
    // action into one sequenced table and through a Spark commitAppend into
    // another: the same schema and rows; with no rows at all, the driver
    // writes the segment's file, with the same schema
    val all = dt.read()
    val seeds = s.frontierTable.readVersion(0)
    Seq(all, all.filter(lit(false))).foreach { docsIn =>
      val fused = new SnapshotTable(TestSpark.tmpDir("fused-docs"), spark, sequenced = true)
      val bySpark = new SnapshotTable(TestSpark.tmpDir("spark-docs"), spark, sequenced = true)
      val (v, writer) = fused.stagedWriter(docsIn.schema)
      // the docs as tagged rows (`_0`) beside the seeds (`_1`)
      val tagged = docsIn
        .select(struct(docsIn.columns.map(col): _*).as("_0"), lit(null).cast(seeds.schema).as("_1"))
        .unionByName(seeds.select(lit(null).cast(docsIn.schema).as("_0"),
          struct(seeds.columns.map(col): _*).as("_1")))
      val t = TestSpark.traced(CrawlSession.fuseDocsAndCandidates(
        org.apache.spark.sql.graftbridge.PhysicalRows(tagged), identity, writer))
      val (file, n, cands) = t.result
      assert(sparkWrites(t).isEmpty && t.queries.size == 1, s"${t.queries.size} SQL actions")
      fused.commitWritten(v, file, n)
      bySpark.commitAppend(docsIn.repartition(1))
      val (got, exp) = (fused.readVersion(v), bySpark.readVersion(0))
      assert(got.schema == exp.schema, s"${got.schema} != ${exp.schema}")
      val rows = got.collect().toSeq
      assert(rows.size == n && n == exp.count() && rows.toSet == exp.collect().toSet)
      assert(cands.toSet == seeds.collect().toSet)
      fused.drop(); bySpark.drop()
    }
    s.cleanup()
  }

  test("a session whose seen set crosses the small-round gate keeps oracle parity; its driver- and Spark-written segments read alike") {
    // 8,150 filler seeds on 100 hosts (pages the corpus lacks) start the
    // seen set just below the gate; the real pages' children push it past,
    // so the first rounds run on the driver mirror and the later ones in
    // Spark. A host budget of 1 claims about a hundred fillers a round.
    val filler = (0 until 8150).map(i => s"http://f${i % 100}.example.com/s/$i")
    val cfg = baseConfig("cross-gate").copy(seeds = seedUrls(0L, 5L, 96L) ++ filler,
      hostBudgetPerRound = 1, maxAccessCount = 700)
    val dir = TestSpark.tmpDir("crawl-cross-gate")
    val s = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    s.init()
    val ft = s.frontierTable
    val seeded = ft.rowsOf(ft.currentVersion)
    assert(seeded <= CrawlSession.SmallWriteRows)
    val rounds = Iterator.continually(s.runRound()).takeWhile(_.isDefined).map(_.get).toList
    // a round is small when the seen set it starts from is at most the gate
    val small = (seeded +: rounds.map(_.seenTotal)).init.count(_ <= CrawlSession.SmallWriteRows)
    assert(small >= 2 && rounds.size - small >= 2, s"$small of ${rounds.size} rounds small")
    assert(s.mirrorVersion.isEmpty)
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    val order = rounds.flatMap(_.claimOrder)
    assert(order == oracle.crawlOrder,
      s"order diverged at ${order.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    def urls(df: org.apache.spark.sql.DataFrame) =
      df.select("url").collect().map(_.getString(0)).toSeq
    assert(urls(s.seenTable.read()).toSet == oracle.seen)
    // a file's name tells its writer: the large rounds' segments are
    // written by Spark tasks, the seed's and the small rounds' by the driver
    val v = ft.currentVersion
    val log = ft.appendedOf(v)
    def writers(seg: String) = TestSpark.writtenBy(s"${ft.root}/segments/$seg").toSet
    val (bySpark, byDriver) = log.partition(writers(_) == Set("task"))
    assert(bySpark.size == rounds.size - small && byDriver.size == 1 + small,
      s"Spark $bySpark, driver $byDriver")
    assert(byDriver.forall(writers(_) == Set("driver")), byDriver)
    // every reader sees the same rows
    val all = spark.read.parquet(ft.segmentsOf(v).map(seg => s"${ft.root}/segments/$seg"): _*)
    val dead = spark.read.parquet(ft.tombstonesOf(v).map(t => s"${ft.root}/tombstones/$t"): _*)
    val live = urls(all.join(dead, Seq("urlHash", "url"), "left_anti"))
    assert(live.size == ft.rowsOf(v) && urls(ft.readVersion(v)).toSet == live.toSet)
    assert(ft.readVersion(v).collect().map(_.getAs[String]("url")).toSet == live.toSet)
    log.foreach { seg =>
      assert(ft.segmentRows(seg) == spark.read.parquet(s"${ft.root}/segments/$seg").count(), seg)
    }
    assert(urls(ft.readSegments(log)).sorted == urls(spark.read.parquet(
      log.map(seg => s"${ft.root}/segments/$seg"): _*)).sorted)
    assert(ft.readSegments(log).collect().length == rounds.last.seenTotal)
    assert(s.docsTable.read().count() == rounds.map(_.docsWritten).sum)
    assert(commitMarkers(dir).isEmpty, commitMarkers(dir))
    s.cleanup()
  }

  test("a small round with a large claim and large docs writes the docs in its task, not through the driver") {
    // every page gains a 64 KB paragraph, which the body rule extracts: a
    // claim of a hundred pages holds megabytes of docs. The paragraph is
    // hashes of the page's url — a collect compresses its rows, and a
    // repeated character would shrink to nothing
    import org.apache.spark.sql.functions._
    val paragraph = 65536
    val text = expr(s"concat_ws('', transform(sequence(1, ${paragraph / 64}), " +
      "i -> sha2(concat(doc_id, i), 256)))")
    val spansType = corpusDf.schema("spans").dataType
    val fat = corpusDf.withColumn("spans", concat(col("spans"), array(struct(lit("p").as("kind"),
      text.as("text"), lit(null).cast("string").as("media_ref"), lit(0).as("offset")))
      .cast(spansType)))
    val cfg = baseConfig("fat-docs").copy(hostBudgetPerRound = 100, maxAccessCount = 400)
    val s = new CrawlSession(spark, cfg, fat, robotsDf.toDF(), TestSpark.tmpDir("crawl-fat-docs"))
    s.init()
    val first = Seq(s.runRound().get, s.runRound().get)
    val t = TestSpark.traced(s.runRound())
    val r = t.result.get
    assert(s.mirrorVersion.isDefined, "the round was not a small round")
    assert(r.claimed >= 50 && r.docsWritten >= 20, r)
    // task results are what crosses to the driver: the candidates' rows and
    // the docs file's name and row count, not the docs
    assert(t.resultBytes < r.docsWritten * paragraph / 10,
      s"${t.resultBytes} B of task results for ${r.docsWritten} docs")
    val rest = Iterator.continually(s.runRound()).takeWhile(_.isDefined).map(_.get).toList
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert((first ++ (r :: rest)).flatMap(_.claimOrder) == oracle.crawlOrder)
    val body = s.docsTable.read().select(max(length(concat_ws("", col("body")))))
      .head().getInt(0)
    assert(body >= paragraph)
    s.cleanup()
  }

  test("the seen set holds the live frontier plus every page processed, every round and after a gc resume") {
    val cfg = baseConfig("seen-count")
    val dir = TestSpark.tmpDir("crawl-seen-count")
    val s1 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    val engine = runChecked(s1)
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert(engine.rounds.size > 3 && engine.crawlOrder == oracle.crawlOrder)
    def seenOf(s: CrawlSession) =
      s.seenTable.read().select("url").collect().map(_.getString(0)).toSet
    assert(seenOf(s1) == oracle.seen)
    assert(engine.rounds.last.seenTotal == oracle.seen.size)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "sessions", "seen-count", "seen")))
    s1.gc()
    val s2 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    assert(s2.run().rounds.isEmpty, "completed crawl resumes as a no-op after gc")
    assertSeenIdentity(s2)
    assert(seenOf(s2) == oracle.seen)
    s2.cleanup()
  }

  test("the driver-side claim order sorts like Spark's orderBy(depth, urlHash, url)") {
    import spark.implicits._
    // signed hashes, equal keys broken by url, and urls whose UTF-16 order
    // differs from their UTF-8 byte order (U+FF5E vs U+1F600)
    val rows = Seq(
      ("http://a/～", 1, 5L), ("http://a/😀", 1, 5L),
      ("http://b/", 0, -3L), ("http://c/", 0, 7L), ("http://a/", 1, 5L),
      ("http://d/", 1, Long.MinValue), ("http://e/", 2, -1L))
    val df = rows.toDF("url", "depth", "urlHash")
    val sparkOrder = df.orderBy("depth", "urlHash", "url").select("url", "depth")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(CrawlSession.claimOrder(df.collect().toSeq) == sparkOrder)
    assert(sparkOrder.take(2) == Seq(("http://b/", 0), ("http://c/", 0)))
  }
}

/** RiverWebTest mode semantics: default duplicates accumulate (:220-273),
  * overwrite keeps 1 doc with a NEW @timestamp (:110-163), incremental keeps
  * 1 doc with the SAME @timestamp (:165-218).
  */
class WriteModeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val builder = SyntheticCorpus.Builder(n = 50, hostCount = 5)
  lazy val corpusDf = builder.corpus(spark).toDF().persist()
  lazy val robotsDf = builder.robots(spark).toDF()

  def cfg(id: String, mode: WriteMode): CrawlConfig = CrawlConfig(
    sessionId = id,
    seeds = Seq(UrlOps.canonicalize(SyntheticCorpus.urlOf(3L,
      SyntheticCorpus.hostOfDoc(3L, 42L, SyntheticCorpus.zipfCdf(5, 1.1))))),
    maxDepth = 0, // seed page only
    maxAccessCount = 10,
    mode = mode,
    rules = Seq(ScrapingRule(".*/page/.*",
      properties = Seq(PropertyRule("title", SpanText("title"), trimSpaces = true)))))

  def runTwice(mode: WriteMode): (Long, Seq[Timestamp]) = {
    val dir = TestSpark.tmpDir(s"mode-$mode")
    val t1 = new Timestamp(1700000001000L)
    val t2 = new Timestamp(1700000002000L)
    val s1 = new CrawlSession(spark, cfg(s"$mode-run1", mode), corpusDf, robotsDf, dir, () => t1)
    s1.run()
    val s2 = new CrawlSession(spark, cfg(s"$mode-run2", mode), corpusDf, robotsDf, dir, () => t2)
    s2.run()
    val docs = s2.docsTable.read()
    val n = docs.count()
    val stamps = docs.select("@timestamp").collect().map(_.getTimestamp(0)).toSeq
    s2.docsTable.drop()
    (n, stamps)
  }

  test("default mode: duplicates accumulate") {
    val (n, _) = runTwice(WriteMode.Default)
    assert(n == 2)
  }

  test("overwrite mode: one doc, new @timestamp (J3)") {
    val (n, stamps) = runTwice(WriteMode.Overwrite)
    assert(n == 1)
    assert(stamps.head == new Timestamp(1700000002000L))
  }

  test("incremental mode: one doc, original @timestamp (J2)") {
    val (n, stamps) = runTwice(WriteMode.Incremental)
    assert(n == 1)
    assert(stamps.head == new Timestamp(1700000001000L))
  }

  test("lifecycle hooks fire around the crawl with session and result (X3)") {
    val dir = TestSpark.tmpDir("mode-hooks")
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    var finishTotal = -1L
    val hooks = CrawlHooks(
      onExecute = s => { calls += s"execute:${s.docsTable.isEmpty}" },
      onFinish = (_, res) => { calls += "finish"; finishTotal = res.totalClaimed })
    val s = new CrawlSession(spark, cfg("hooks", WriteMode.Default), corpusDf,
      robotsDf, dir, () => new Timestamp(1700000001000L), hooks = hooks)
    val res = s.run()
    // execute fires BEFORE init (docs table still empty), finish after the
    // loop with the final result — the reference's execute/finish scripts
    // (RiverWeb.java:248-256,473-479)
    assert(calls.toSeq == Seq("execute:true", "finish"))
    assert(finishTotal == res.totalClaimed && finishTotal > 0)
    s.cleanup()
  }

  test("gc() expires dead storage; a resumed session is unaffected (Z6)") {
    val dir = TestSpark.tmpDir("mode-gc")
    val s1 = new CrawlSession(spark, cfg("gc-1", WriteMode.Default), corpusDf,
      robotsDf, dir, () => new Timestamp(1700000001000L))
    s1.run()
    val docsBefore = s1.docsTable.read().count()
    val seenBefore = s1.seenTable.read().count()
    s1.gc() // retains checkpoint..head incl. the frontier's append log
    val s2 = new CrawlSession(spark, cfg("gc-1", WriteMode.Default), corpusDf,
      robotsDf, dir, () => new Timestamp(1700000002000L))
    val resumed = s2.run()
    assert(resumed.rounds.isEmpty, "completed crawl resumes as a no-op after gc")
    assert(s2.docsTable.read().count() == docsBefore)
    assert(s2.seenTable.read().count() == seenBefore)
    s2.docsTable.drop()
  }

  test("overwrite mode commits O(batch) deltas, not O(history) rewrites") {
    val dir = TestSpark.tmpDir("mode-ow-delta")
    val t1 = new Timestamp(1700000001000L)
    val t2 = new Timestamp(1700000002000L)
    val s1 = new CrawlSession(spark, cfg("ow-d1", WriteMode.Overwrite), corpusDf, robotsDf, dir, () => t1)
    s1.run()
    val s2 = new CrawlSession(spark, cfg("ow-d2", WriteMode.Overwrite), corpusDf, robotsDf, dir, () => t2)
    s2.run()
    val docs = s2.docsTable
    // the second run's merge appended a segment + url tombstones — the
    // first run's segment is still live (delta, not copy-on-write)
    assert(docs.segmentsOf(docs.currentVersion).size == 2)
    assert(docs.tombstonesOf(docs.currentVersion).nonEmpty)
    assert(docs.rowsOf(docs.currentVersion) == 1, "exact live accounting")
    val read = docs.read().collect()
    assert(read.length == 1)
    assert(!docs.read().columns.contains("__seq"))
    s2.docsTable.drop()
  }

  test("Default, Incremental, then Overwrite sessions on one workDir: skip, re-store, one row per url") {
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tmpDir("mode-history")
    def deep(id: String, mode: WriteMode) =
      cfg(id, mode).copy(maxDepth = 2, maxAccessCount = 20, hostBudgetPerRound = 4)
    // a re-crawl sees half the pages with a newer lastModified
    val changedCorpus = corpusDf.withColumn("lastModified",
      when(pmod(xxhash64(col("doc_id")), lit(2)) === 1, col("lastModified") + 1)
        .otherwise(col("lastModified")))
    def run(id: String, mode: WriteMode, corpus: org.apache.spark.sql.DataFrame,
        ts: Long): CrawlSession = {
      val s = new CrawlSession(spark, deep(id, mode), corpus, robotsDf, dir,
        () => new Timestamp(ts))
      s.run(); s
    }
    def rows(s: CrawlSession) = s.docsTable.read()
      .select(col("url"), col("lastModified"), col("@timestamp").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val first = rows(run("hist-default", WriteMode.Default, corpusDf, 1700000001000L))
    val urls = first.map(_._1).toSet
    assert(first.size == urls.size && urls.size > 2, "one doc per crawled page")
    val lastMod = first.map(r => r._1 -> r._2).toMap
    val newer = changedCorpus.select("doc_id", "lastModified").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val changed = urls.filter(u => newer(u) > lastMod(u))
    assert(changed.nonEmpty && changed.size < urls.size, "both kinds are crawled")

    // J2: unchanged docs are skipped, changed ones stored again
    val inc = rows(run("hist-inc", WriteMode.Incremental, changedCorpus, 1700000002000L))
    val added = inc.filter(_._3 == 1700000002L)
    assert(inc.size == urls.size + changed.size)
    assert(added.map(_._1).toSet == changed && added.size == changed.size)
    assert(added.forall(r => r._2 == newer(r._1)))

    // J3: the merge leaves one row per url, all from this session
    val ow = run("hist-ow", WriteMode.Overwrite, changedCorpus, 1700000003000L)
    val last = rows(ow)
    assert(last.size == urls.size && last.map(_._1).toSet == urls)
    assert(last.forall(r => r._3 == 1700000003L && r._2 == newer(r._1)))
    assert(ow.docsTable.rowsOf(ow.docsTable.currentVersion) == urls.size,
      "exact live accounting")
    ow.cleanup()
  }

  test("Overwrite re-run after a crash between the docs commit and the checkpoint flip: one row per url") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.col
    def deep(id: String, mode: WriteMode) =
      cfg(id, mode).copy(maxDepth = 2, maxAccessCount = 20, hostBudgetPerRound = 4)
    def session(dir: String, id: String, mode: WriteMode) =
      new CrawlSession(spark, deep(id, mode), corpusDf, robotsDf, dir,
        () => new Timestamp(1700000003000L))
    def lastModified(s: CrawlSession) = s.docsTable.read()
      .select(col("url"), col("lastModified")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // both workDirs already hold docs from a Default session
    val (crashDir, cleanDir) = (TestSpark.tmpDir("mode-ow-crash"), TestSpark.tmpDir("mode-ow-clean"))
    Seq(crashDir, cleanDir).foreach(d => session(d, "ow-prior", WriteMode.Default).run())
    val clean = session(cleanDir, "ow-run", WriteMode.Overwrite)
    clean.run()
    val want = lastModified(clean)

    val s1 = session(crashDir, "ow-run", WriteMode.Overwrite)
    s1.init()
    s1.runRound()
    val manifest = Paths.get(s1.frontierTable.root, "manifest.json")
    val saved = Files.readAllBytes(manifest)
    val docsBefore = s1.docsTable.currentVersion
    assert(s1.runRound().exists(_.docsWritten > 0))
    assert(s1.docsTable.currentVersion == docsBefore + 1, "the lost round committed its docs")
    // the crash: the round's docs are durable, its checkpoint flip (the
    // frontier's manifest rename) is lost
    val tmp = Paths.get(s"$manifest.restore")
    Files.write(tmp, saved)
    Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val s2 = session(crashDir, "ow-run", WriteMode.Overwrite)
    s2.run()
    val got = lastModified(s2)
    val urls = got.map(_._1).toSet
    assert(got.size == urls.size, "one docs row per url")
    assert(s2.docsTable.rowsOf(s2.docsTable.currentVersion) == urls.size, "exact live accounting")
    assert(got.toSet == want.toSet, "same url → lastModified as an uninterrupted session")
    s2.cleanup(); clean.cleanup()
  }

  test("docsAsJson serializes one JSON object per document, nulls omitted (F14)") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("mode-f14")
    val s = new CrawlSession(spark, cfg("f14", WriteMode.Default), corpusDf, robotsDf, dir)
    s.docsTable.commitAppend(Seq(
      ("http://h/1", "t1", 42L),
      ("http://h/2", null: String, 7L)).toDF("url", "title", "n"))
    val got = s.docsAsJson().collect().map(_.getString(0)).toSet
    // field order = column order; null title omitted — the reference's
    // sparse jsonBuilder().value(dataMap) payload shape
    assert(got == Set(
      """{"url":"http://h/1","title":"t1","n":42}""",
      """{"url":"http://h/2","n":7}"""))
    s.cleanup()
  }
}

/** HTTP redirect remap + non-200 status flow (reference `auto_redirect`,
  * RiverWeb.java:302-303; status routing crawler/rule+.xml:36-41): redirect
  * targets are enqueued at the SOURCE's depth, non-200 pages store nothing
  * and emit nothing, and oracle parity holds on a corpus mixing both.
  */
class RedirectStatusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // redirect/status-bearing corpus: every 10th doc is a 301, every 7th a
  // 404/500/304 (sitemap docs can carry errors too — the gate covers S6)
  val builder = SyntheticCorpus.Builder(n = 400, hostCount = 25,
    redirectEvery = 10, errorEvery = 7)
  lazy val corpusDf = builder.corpus(spark).toDF().persist()
  lazy val pagesMap: Map[String, PageDoc] =
    builder.corpus(spark).collect().map(p => p.doc_id -> p).toMap
  lazy val robotsDf = builder.robots(spark)
  lazy val robotsMap: Map[String, Seq[String]] =
    robotsDf.collect().map(r => r.host -> r.disallow_prefixes).toMap

  def seedUrls(idxs: Long*): Seq[String] = idxs.map { i =>
    UrlOps.canonicalize(SyntheticCorpus.urlOf(i,
      SyntheticCorpus.hostOfDoc(i, 42L, SyntheticCorpus.zipfCdf(25, 1.1))))
  }

  def cfg(id: String, follow: Option[Boolean] = None): CrawlConfig = CrawlConfig(
    sessionId = id,
    seeds = seedUrls(0L, 5L, 96L),
    maxDepth = 3,
    maxAccessCount = 150,
    hostBudgetPerRound = 3,
    http = HttpSettings(autoRedirect = follow),
    rules = Seq(ScrapingRule(
      urlPattern = ".*/page/.*",
      properties = Seq(PropertyRule("title", SpanText("title"), trimSpaces = true)))))

  def runEngine(c: CrawlConfig): (CrawlSession.CrawlResult, Set[String], CrawlSession) = {
    val dir = TestSpark.tmpDir(s"crawl-${c.sessionId}")
    val session = new CrawlSession(spark, c, corpusDf, robotsDf.toDF(), dir)
    val result = session.run()
    val seen = session.seenTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    (result, seen, session)
  }

  test("oracle parity on a redirect+error corpus (auto_redirect default on)") {
    val c = cfg("redir-parity")
    val (engine, engineSeen, session) = runEngine(c)
    val oracle = Oracle.crawl(pagesMap, robotsMap, c)
    assert(engine.crawlOrder == oracle.crawlOrder,
      s"order diverged at ${engine.crawlOrder.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    assert(engineSeen == oracle.seen)
    assert(engine.totalClaimed == oracle.processed)
    // the corpus actually exercised both branches: some claimed url is a
    // redirect, some claimed url is non-200
    val claimed = engine.crawlOrder.map(_._1).toSet
    assert(claimed.exists(u => pagesMap.get(u).exists(_.httpStatus == 301)))
    assert(claimed.exists(u => pagesMap.get(u).exists(p =>
      p.httpStatus != 200 && p.httpStatus != 301)))
    // no document stored for any non-200 page
    val docUrls = session.docsTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    docUrls.foreach(u => assert(pagesMap(u).httpStatus == 200, s"stored non-200 $u"))
    session.cleanup()
  }

  test("oracle parity with auto_redirect=false (redirects are dead ends)") {
    val cOn = cfg("redir-on2", follow = Some(true))
    val cOff = cfg("redir-off", follow = Some(false))
    val (_, seenOff, sOff) = runEngine(cOff)
    val oracleOff = Oracle.crawl(pagesMap, robotsMap, cOff)
    assert(seenOff == oracleOff.seen)
    // following redirects reaches strictly more than not following
    val oracleOn = Oracle.crawl(pagesMap, robotsMap, cOn)
    assert(oracleOff.seen.size < oracleOn.seen.size)
    sOff.cleanup()
  }

  test("redirect target inherits the SOURCE's depth (a +1 would be dropped at maxDepth)") {
    import graft.model.Span
    def pd(i: Int, spans: Seq[Span], status: Int = 200) =
      PageDoc(s"http://s.example.com/page/$i", "s.example.com", 1L, spans, status)
    val pages = Seq(
      pd(0, Seq(Span("title", "s", null, 0),
        Span("a", "x", "http://s.example.com/page/1", 1),
        Span("a", "y", "http://s.example.com/page/2", 2))),
      pd(1, Seq(Span("redirect", null, "http://s.example.com/page/3", 0)), 301),
      pd(2, Seq(Span("title", "c", null, 0),
        Span("a", "z", "http://s.example.com/page/4", 1))),
      pd(3, Seq(Span("title", "b", null, 0))),
      pd(4, Seq(Span("title", "d", null, 0))))
    import spark.implicits._
    val corpus = spark.createDataset(pages).toDF()
    val robots = spark.emptyDataset[RobotsRules].toDF()
    val c = CrawlConfig(
      sessionId = "redir-depth",
      seeds = Seq("http://s.example.com/page/0"),
      maxDepth = 1, maxAccessCount = 100, hostBudgetPerRound = 100,
      rules = Seq(ScrapingRule(".*",
        properties = Seq(PropertyRule("title", SpanText("title"), trimSpaces = true)))))
    val dir = TestSpark.tmpDir("crawl-redir-depth")
    val session = new CrawlSession(spark, c, corpus, robots, dir)
    session.run()
    val docUrls = session.docsTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    def u(i: Int) = s"http://s.example.com/page/$i"
    // page/3 reached THROUGH the depth-1 redirect at depth 1 → stored;
    // page/4 (normal child of depth-1 page/2, depth 2) → dropped;
    // page/1 is the redirect itself → never stored
    assert(docUrls == Set(u(0), u(2), u(3)), docUrls.toString)
    val seen = session.seenTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    assert(seen == Set(u(0), u(1), u(2), u(3)), seen.toString)
    // oracle agrees on the hand-built corpus too
    val oracle = Oracle.crawl(pages.map(p => p.doc_id -> p).toMap, Map.empty, c)
    assert(seen == oracle.seen)
    session.cleanup()
  }

  test("trap guard drops looping paths at enqueue, with oracle parity both ways") {
    import graft.model.Span
    def pd(url: String, children: Seq[String]) =
      PageDoc(url, "s.example.com", 1L,
        Span("title", "t", null, 0) +:
          children.zipWithIndex.map { case (c, i) => Span("a", "l", c, i + 1) })
    def loop(n: Int, tail: String) =
      s"http://s.example.com/${Seq.fill(n)("loop").mkString("/")}/$tail"
    val pages = Seq(
      pd("http://s.example.com/page/0", Seq(loop(3, "p1"),
        "http://s.example.com/page/2")),
      pd(loop(3, "p1"), Seq(loop(4, "p2"))),
      pd(loop(4, "p2"), Seq.empty),
      pd("http://s.example.com/page/2", Seq.empty))
    import spark.implicits._
    val corpus = spark.createDataset(pages).toDF()
    val robots = spark.emptyDataset[RobotsRules].toDF()
    def c(id: String, guard: Boolean) = CrawlConfig(
      sessionId = id, seeds = Seq("http://s.example.com/page/0"),
      maxDepth = -1, maxAccessCount = 100, hostBudgetPerRound = 100,
      trapGuard = guard,
      rules = Seq(ScrapingRule(".*",
        properties = Seq(PropertyRule("title", SpanText("title"),
          trimSpaces = true)))))
    val pagesM = pages.map(p => p.doc_id -> p).toMap

    val cOn = c("trap-on", guard = true)
    val dirOn = TestSpark.tmpDir("crawl-trap-on")
    val sOn = new CrawlSession(spark, cOn, corpus, robots, dirOn)
    val rOn = sOn.run()
    val seenOn = sOn.seenTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    val oOn = Oracle.crawl(pagesM, Map.empty, cOn)
    assert(rOn.crawlOrder == oOn.crawlOrder)
    assert(seenOn == oOn.seen)
    assert(seenOn == Set("http://s.example.com/page/0",
      "http://s.example.com/page/2"), seenOn.toString)
    sOn.cleanup()

    val cOff = c("trap-off", guard = false)
    val dirOff = TestSpark.tmpDir("crawl-trap-off")
    val sOff = new CrawlSession(spark, cOff, corpus, robots, dirOff)
    val rOff = sOff.run()
    val seenOff = sOff.seenTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    val oOff = Oracle.crawl(pagesM, Map.empty, cOff)
    assert(rOff.crawlOrder == oOff.crawlOrder)
    assert(seenOff == oOff.seen)
    // without the guard the crawl walks straight into the loop
    assert(seenOff.contains(loop(3, "p1")) && seenOff.contains(loop(4, "p2")))
    sOff.cleanup()
  }

  test("304 re-crawl takes the incremental-skip route (no re-store, J2)") {
    import graft.model.Span
    def corpusOf(status: Int, lastMod: Long) = {
      import spark.implicits._
      spark.createDataset(Seq(PageDoc("http://s.example.com/page/0",
        "s.example.com", lastMod, Seq(Span("title", "t", null, 0)), status))).toDF()
    }
    import spark.implicits._
    val robots = spark.emptyDataset[RobotsRules].toDF()
    def c(id: String) = CrawlConfig(
      sessionId = id, seeds = Seq("http://s.example.com/page/0"),
      maxDepth = 0, maxAccessCount = 10, mode = WriteMode.Incremental,
      rules = Seq(ScrapingRule(".*",
        properties = Seq(PropertyRule("title", SpanText("title"), trimSpaces = true)))))
    val t1 = new Timestamp(1700000001000L)
    val t2 = new Timestamp(1700000002000L)
    // run 1: 200 → stored. run 2: server answers 304 with a NEWER
    // lastModified — the status gate must skip it BEFORE the lastModified
    // comparison would have re-indexed it
    val dir = TestSpark.tmpDir("crawl-304")
    new CrawlSession(spark, c("r304-1"), corpusOf(200, 100L), robots, dir, () => t1).run()
    val s2 = new CrawlSession(spark, c("r304-2"), corpusOf(304, 200L), robots, dir, () => t2)
    s2.run()
    val rows = s2.docsTable.read().select("url", "@timestamp").collect()
    assert(rows.length == 1 && rows(0).getTimestamp(1) == t1, rows.mkString(","))
    s2.docsTable.drop()
    // control: the same newer lastModified with a 200 DOES re-index
    val dir2 = TestSpark.tmpDir("crawl-304c")
    new CrawlSession(spark, c("r200-1"), corpusOf(200, 100L), robots, dir2, () => t1).run()
    val s4 = new CrawlSession(spark, c("r200-2"), corpusOf(200, 200L), robots, dir2, () => t2)
    s4.run()
    assert(s4.docsTable.read().count() == 2)
    s4.docsTable.drop()
  }
}

/** Crawl → index → search integration: the reference's end-to-end story is
  * crawl pages into a SEARCHABLE index (RiverWeb.java:183-195 writes docs to
  * Elasticsearch precisely so term queries run over them). Here the crawl's
  * doc table feeds SearchOps directly, and the per-round incremental path
  * (index the delta, merge) is proven equal to indexing the whole store.
  */
class CrawlSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("crawled docs are searchable; per-round delta merge equals whole-store index") {
    import org.apache.spark.sql.functions._
    import graft.ops.SearchOps
    val builder = SyntheticCorpus.Builder(n = 300, hostCount = 15)
    val cdf = SyntheticCorpus.zipfCdf(15, 1.1)
    val seed = UrlOps.canonicalize(SyntheticCorpus.urlOf(0L,
      SyntheticCorpus.hostOfDoc(0L, 42L, cdf)))
    val cfg = CrawlConfig(
      sessionId = "crawlsearch", seeds = Seq(seed),
      maxDepth = 3, maxAccessCount = 60, hostBudgetPerRound = 3,
      rules = Seq(ScrapingRule(".*/page/.*", properties = Seq(
        PropertyRule("title", SpanText("title"), trimSpaces = true)))))
    val dir = TestSpark.tmpDir("crawl-search")
    val session = new CrawlSession(spark, cfg, builder.corpus(spark).toDF(),
      builder.robots(spark).toDF(), dir)
    session.run()
    val docs = session.docsTable.read()
      .filter(col("title").isNotNull)
      .select(col("url"), col("title"))
    assert(docs.count() > 10)

    // a term drawn from a real crawled title must retrieve a doc whose
    // title contains it, with the crawl's url as the result id
    val someTitle = docs.select("title").head().getString(0)
    val term = someTitle.toLowerCase.split("\\s+").filter(_.nonEmpty).head
    val top = SearchOps.searchTopK(docs, Seq(term), k = 5,
      idCol = "url", textCol = "title")
    val hits = top.collect()
    assert(hits.nonEmpty)
    val hitUrls = hits.map(_.getString(0)).toSet
    val titles = docs.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    hitUrls.foreach(u =>
      assert(titles(u).toLowerCase.split("\\s+").contains(term)))

    // incremental path: index one "round half" + merge the delta ≡ whole
    val a = docs.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
    val b = docs.filter(pmod(xxhash64(col("url")), lit(2)) === 1)
    val merged = SearchOps.mergeIndex(
      SearchOps.index(a, "url", "title"), SearchOps.index(b, "url", "title"))
    val q = {
      import spark.implicits._
      Seq(("q", term)).toDF("query_id", "term")
    }
    val viaMerged = SearchOps.searchAllTopK(merged, q, k = 5)
      .select("url", "score_ticks", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val direct = SearchOps.searchTopK(docs, Seq(term), k = 5,
      idCol = "url", textCol = "title")
      .select("url", "score_ticks", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaMerged == direct)
  }
}

/** the fault the fused-round test injects: the corpus page whose read
  * throws, while set.
  */
object FusedFault {
  @volatile var failOn: Option[String] = None
}
